package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._

/** §2.11 text-analysis + dedup operators over `documents` (SURVEY.md;
  * driver-mandated training-data-pipeline extensions).
  *
  * Scale design: everything here is shuffle-light — tokenize/quality/
  * fingerprint are per-row map work; wordcount/tfidf shuffle only
  * (token)-keyed partial aggregates; dedup_near blocks candidate pairs on
  * shared shingles (never an all-pairs cross join), the standard blocking
  * that keeps near-dup detection tractable at 100 TB. dedup_minhash is the
  * sketch-based scale path (bounded signature per doc, LSH band join).
  */
object TextOps {

  private val L = LongType

  /** doc_id + lowercase whitespace tokens, fanned out to full parallelism
    * (the one-file fixture scan would otherwise run every downstream
    * explode/hash single-core — Tables.fanout).
    */
  private def toks(s: SparkSession, d: String): DataFrame =
    fanout(documents(s, d)).select(col("doc_id"), split(lower(col("text")), " ").as("t"))

  /** CCNet-style per-doc LM surprisal scores — the text_perplexity
    * pipeline, shared verbatim with quality_ccnet_bucket so the bucketing
    * audits the exact scoring path. Rank every doc by its surprisal under
    * a corpus-trained bigram LM (CCNet filters CommonCrawl on KenLM
    * perplexity; at 100 TB the LM counts would be a fixed broadcast table
    * trained once on a clean reference corpus, turning the count joins
    * into map work). Per-bigram surprisal is EXACT-INTEGER log2: the
    * probability ratio c_w1/c_bi ≥ 1 in 2^20 fixed point, then
    * floor(log2) via binary bit-length (length(bin(x))-1 — pure integer,
    * bit-identical in both engines, where libm log() is not). Per-doc
    * score = mean surprisal bits ×100, truncating division. High score =
    * text the LM finds improbable → the removal candidate. Plan: bigram
    * build is map work; LM training is two token-keyed partial aggs;
    * scoring joins the bigram stream to the counts (both bigram-keyed —
    * at scale, broadcast the fixed LM instead); rollup is one doc-keyed
    * agg. Everything linear in corpus size, no fan-out anywhere.
    */
  /** Exploded bigram stream (doc_id, w1, bigram) plus its two count
    * tables — THE bigram definition, shared by pplScores and
    * text_bigram_prob so the LM estimate and the perplexity scorer can
    * never disagree on what a bigram or its context count is.
    */
  private def bigramCounts(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val bi = toks(s, d).filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("t"),
        explode(expr("sequence(0, size(t)-2)")).as("i"))
      .select(col("doc_id"), col("t")(col("i")).as("w1"),
        concat_ws(" ", col("t")(col("i")), col("t")(col("i") + 1)).as("bigram"))
    val biCnt = bi.groupBy("w1", "bigram").agg(count(lit(1)).as("c_bi"))
    // round 18: the context count rolls up from the bigram counts instead
    // of re-scanning the exploded stream — every occurrence contributes
    // exactly one (w1, bigram) row, so c_w1 = Σ_bigram c_bi is the same
    // exact long count(*) computed in one vocab-sized aggregate; the
    // stream-sized w1 partial agg and its second corpus scan disappear
    // (the shared (w1, bigram) exchange is reused at runtime).
    val ctxCnt = biCnt.groupBy("w1").agg(sum(col("c_bi")).as("c_w1"))
    (bi, biCnt, ctxCnt)
  }

  private def pplScores(s: SparkSession, d: String): DataFrame =
    Derived.pplScores(s, d)

  /** The CCNet scoring build behind Derived.pplScores (round 17):
    * text_perplexity and quality_ccnet_bucket previously each re-ran the
    * whole bigram-LM train + score pipeline; all output columns are exact
    * BIGINTs, so the parquet round-trip is value-identical.
    */
  private[operators] def pplScoresBuild(s: SparkSession, d: String): DataFrame = {
    // round 18: the LM (bits per distinct bigram) is assembled FIRST on
    // the vocab-sized count tables, and the occurrence stream joins it
    // ONCE — the old form sent the full stream through TWO joins (by
    // (w1, bigram), then by w1). bits is a function of (w1, bigram), so
    // Σ_occurrences bits ≡ the same sum grouped through the single join —
    // exact longs throughout. A/B (order-alternated ×6, sf0.1): medians
    // 1.62 → 1.30 s, NEW faster in all 6 reps under both orders.
    val (bi, biCnt, ctxCnt) = bigramCounts(s, d)
    val lm = biCnt.join(ctxCnt, "w1")
      .select(col("w1"), col("bigram"),
        (length(expr("bin((c_w1 * 1048576) div c_bi)")) - 21).cast(L).as("bits"))
    bi.join(lm, Seq("w1", "bigram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast(L).as("n_bigrams"),
        sum(col("bits")).as("sum_bits"))
      .withColumn("ppl_bits_x100", expr("(sum_bits * 100) div n_bigrams"))
  }

  /** DuckDB CTE chain mirroring [[pplScores]] — ends in `ppl(doc_id,
    * n_bigrams, sum_bits, ppl_bits_x100)`; shared by the text_perplexity
    * and quality_ccnet_bucket oracles exactly as the Scala helper is.
    */
  /** DuckDB CTE chain mirroring [[bigramCounts]] — ends in b(doc_id, w1,
    * bigram) / bc(w1, bigram, c_bi) / cc(w1, c_w1); shared by pplCtes and
    * the text_bigram_prob oracle exactly as the Scala helper is.
    */
  private val bigramCtes: String =
    """t AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
       b AS (SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i+1] AS bigram
             FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM t
                   WHERE len(t) >= 2)),
       bc AS (SELECT w1, bigram, count(*) AS c_bi FROM b GROUP BY 1, 2),
       cc AS (SELECT w1, count(*) AS c_w1 FROM b GROUP BY 1)"""

  private val pplCtes: String =
    s"""$bigramCtes,
       j AS (SELECT doc_id,
               length(format('{:b}', (c_w1 * 1048576) // c_bi)) - 21 AS bits
             FROM b JOIN bc USING (w1, bigram) JOIN cc USING (w1)),
       ppl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                 CAST(sum(bits) AS BIGINT) AS sum_bits,
                 CAST(sum(bits) * 100 // count(*) AS BIGINT) AS ppl_bits_x100
               FROM j GROUP BY 1)"""

  /** Keyword-list argmax classifier (the n-gram-heuristic language-ID
    * shape; lists are fixture-vocab topic sets, labels arbitrary) —
    * shared by text_langid and the lang_confusion audit so the confusion
    * matrix describes the exact deployed classifier. Pure map work.
    */
  private def langidPred(s: SparkSession, d: String): DataFrame = {
    val t = toks(s, d)
    val sA = size(array_intersect(col("t"), array(lit("scan"), lit("agg"), lit("join"), lit("merge")))).cast(L)
    val sB = size(array_intersect(col("t"), array(lit("table"), lit("row"), lit("column"), lit("line")))).cast(L)
    val sC = size(array_intersect(col("t"), array(lit("fast"), lit("slow"), lit("query"), lit("stream")))).cast(L)
    t.select(col("doc_id"), sA.as("score_a"), sB.as("score_b"), sC.as("score_c"),
      when(sA >= sB && sA >= sC, "a").when(sB >= sC, "b").otherwise("c").as("pred"))
  }

  /** The four Gopher predicates (Rae et al. §A1.1) over a `t` tokens
    * column, in order (count, word-len, stopwords, type-token) — defined
    * ONCE so quality_gopher (per-doc rule breakdown) and
    * crawl_domain_stats (per-domain keep rate) cannot drift. All-integer
    * arithmetic; see quality_gopher for the threshold rationale.
    */
  private def gopherChecks: Seq[org.apache.spark.sql.Column] = {
    val n = size(col("t")).cast(L)
    val sumLen = expr("CAST(aggregate(t, 0, (a, x) -> a + length(x)) AS BIGINT)")
    val nStop = expr(
      "CAST(size(filter(t, x -> x IN ('the', 'a', 'of', 'to', 'and'))) AS BIGINT)")
    val nDist = size(array_distinct(col("t"))).cast(L)
    Seq(n >= 20 && n <= 10000,
      sumLen >= n * 3 && sumLen <= n * 10,
      nStop >= 2,
      nDist * 5 >= n)
  }

  /** The composite Gopher keep predicate over a DuckDB `t` token list —
    * the SQL twin of [[gopherChecks]].reduce(&&), shared by the
    * crawl_domain_stats and corpus_datacard oracles so the keep rule
    * cannot drift between the audit and the manifest.
    */
  private[operators] val gopherKeepDuck: String =
    """(len(t) BETWEEN 20 AND 10000
       AND list_sum(list_transform(t, x -> length(x)))
             BETWEEN len(t) * 3 AND len(t) * 10
       AND len(list_filter(t, x -> x IN ('the', 'a', 'of', 'to', 'and'))) >= 2
       AND len(list_distinct(t)) * 5 >= len(t))"""

  /** Distinct 3-word shingles per doc — the dedup_near candidate unit.
    * Built by exploding an index sequence and concatenating in a plain
    * projection (whole-stage codegen'd) rather than inside a
    * higher-order-function lambda (interpreted — measured 3.5× slower
    * cold, 1.4× warm at sf0.1).
    */
  private def shingleRows(s: SparkSession, d: String): DataFrame =
    toks(s, d)
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), col("t"), explode(expr("sequence(0, size(t)-3)")).as("i"))
      .select(col("doc_id"),
        concat_ws(" ", col("t")(col("i")), col("t")(col("i") + 1), col("t")(col("i") + 2))
          .as("shingle"))

  private def shingles(s: SparkSession, d: String): DataFrame =
    Derived.shingles(s, d)

  /** The distinct raw-shingle build behind Derived.shingles (round 17):
    * the tokenize → explode → concat → distinct prefix was previously
    * re-run by hashed_shingles, band_pairs (minhashBands) AND
    * sim_minhash_est's signature stage — three derivations of the same
    * string table per run.
    */
  private[operators] def shinglesBuild(s: SparkSession, d: String): DataFrame =
    shingleRows(s, d).distinct()

  /** Distinct (doc_id, 60-bit-hashed shingle) rows — the hashed-set form
    * shared by dedup_near / sim_containment / corpus_decontam: hashing the
    * distinct shingle table yields the same (doc_id, sh) set as hashing at
    * extraction (h60 is a deterministic function, so hash-then-distinct ≡
    * distinct-then-hash as sets); downstream shuffles move 8-byte longs
    * instead of ~20-char strings. The trailing distinct stays: an in-doc
    * h60 collision (~1e-7) must collapse here exactly as it always did.
    */
  private[operators] def hashedShinglesBuild(s: SparkSession, d: String): DataFrame =
    shingles(s, d)
      .select(col("doc_id"), expr(h60Spark("shingle")).as("sh"))
      .distinct()

  /** All in-module consumers go through the materialize-once seam
    * (Derived): the (doc_id, sh) artifact is derived once per sf dir and
    * scanned by corpus_decontam / eval_coverage / sim_minhash_est and the
    * pair machinery below — the persisted-intermediate shape a 100 TB
    * pipeline holds for its shingle index.
    */
  private def hashedShingles(s: SparkSession, d: String): DataFrame =
    Derived.hashedShingles(s, d)

  /** Lee-et-al-style substring-dedup signal over a (doc_id, t: tokens)
    * table: SLIDING 12-token spans at every offset — unlike
    * text_line_dedup's aligned segments, this catches duplicated text at
    * ANY alignment (the "deduplicating training data makes LMs better"
    * shape, without the suffix array: span-hash counting finds the same
    * shared substrings for fixed span length). Per doc: total distinct
    * spans, spans shared with ≥1 other doc, duplicated fraction in exact
    * fixed-point. Plan: span build is map work — n-k+1 HASHED spans per
    * doc (the 60-bit portable hash; span strings never enter a shuffle);
    * detection is one (span-hash)-keyed partial agg (count state only —
    * no pair fan-out anywhere: the df count joins BACK to docs, it never
    * self-joins); per-doc rollup is one doc-keyed agg. Three keyed
    * shuffles, all linear in corpus size. Factored over an arbitrary
    * token table so PropertySpec can gate recall on planted
    * arbitrary-alignment duplicates.
    */
  def spanDedup(tokTable: DataFrame): DataFrame = {
    val spans = tokTable.filter(size(col("t")) >= 12)
      .select(col("doc_id"), col("t"),
        explode(expr("sequence(0, size(t)-12)")).as("i"))
      .select(col("doc_id"),
        expr(h60Spark("concat_ws(' ', slice(t, i+1, 12))")).as("sp"))
      .distinct()
      .localCheckpoint() // §19 C5: kept, measured slower without it
    // span-vocab-proportional — merge-locked (round-9 x30 lesson: the
    // static planner's post-aggregate underestimates can pick broadcast)
    val dfc = spans.groupBy("sp").agg(count(lit(1)).as("df")).hint("merge")
    spans.join(dfc, "sp")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast(L).as("n_spans"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("dup_fp", expr("(n_shared * 10000) div n_spans"))
      .orderBy("doc_id")
  }

  /** Rare-shingle candidate pairs with exact set statistics — the shared
    * verify machinery for dedup_near (symmetric Jaccard) and
    * sim_containment (asymmetric containment), so blocking cannot drift
    * between the two variants. Returns (a, b, i, na, nb): candidate doc
    * pairs (blocked on shingles with document frequency in [2, 20], ≥ 2
    * shared — see dedup_near's rationale) with the exact intersection size
    * and both full shingle-set sizes. Candidate generation is the bounded
    * two-pass shape (count-filter FIRST, so no aggregation buffer exceeds
    * the df cap); the verify stage ships each candidate doc's full shingle
    * set ONCE as a sorted array and intersects in-row — peaks at
    * |pairs| × 2 bounded arrays, never corpus².
    */
  private def shinglePairStats(s: SparkSession, d: String): DataFrame =
    Derived.shinglePairStats(s, d)

  private[operators] def shinglePairStatsBuild(s: SparkSession, d: String): DataFrame = {
    val sh = hashedShingles(s, d)
    val rareSh = sh.groupBy("sh").agg(count(lit(1)).as("n_df"))
      .filter(col("n_df").between(2, 20))
      .select("sh")
    val cand = sh.join(rareSh, Seq("sh"), "left_semi")
      .groupBy("sh")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .select(explode(expr(
        "flatten(transform(ds, (x, i) -> transform(slice(ds, i + 2, size(ds)), " +
        "y -> named_struct('a', x, 'b', y))))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .select("a", "b")
      .localCheckpoint(true) // §19 C7: kept, measured slower without it
    // verify stage ships only the CANDIDATE docs' full shingle sets.
    // Merge-locked, not merely un-hinted (the round-9 dedup_ngram ×30
    // lesson): candidate docs and their shingle sets are
    // corpus-proportional, and the static planner's post-aggregate size
    // underestimates can pick broadcast on their own — a driver OOM AQE
    // cannot demote. Sort-merge has no single-node size precondition.
    val candDocs = cand.select(explode(array(col("a"), col("b"))).as("doc_id")).distinct()
    val docSets = sh.join(candDocs, Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(sort_array(collect_list(col("sh"))).as("set"))
      .hint("merge")
    cand
      .join(docSets.select(col("doc_id").as("a"), col("set").as("sa")), "a")
      .join(docSets.select(col("doc_id").as("b"), col("set").as("sb")), "b")
      .select(col("a"), col("b"),
        size(array_intersect(col("sa"), col("sb"))).cast(L).as("i"),
        size(col("sa")).cast(L).as("na"), size(col("sb")).cast(L).as("nb"))
  }

  /** MinHash band signatures per doc (16 minhashes / 8 bands of 2) — shared
    * by `dedup_minhash` (candidate pairs) and `dedup_cluster` (components
    * over those pairs). Hash family is the engine-portable md5-derived
    * 60-bit one, so both consumers keep full DuckDB oracles.
    */
  private[operators] def minhashBands(s: SparkSession, d: String): DataFrame =
    // round 17: the per-(doc, seed) minhash table is the shared
    // Derived.minhashSigs artifact — sim_minhash_est previously re-ran
    // the 16-seed md5 fold over its candidate docs' shingles even though
    // the band_pairs derivation had just computed the same values
    Derived.minhashSigs(s, d)
      .groupBy(col("doc_id"), (col("seed") / 2).cast(IntegerType).as("band"))
      .agg(concat_ws(",", sort_array(collect_list(col("mh")))).as("sig"))

  /** Per-(doc, seed) minhash values — the Derived.minhashSigs build:
    * min over the doc's shingles of the engine-portable 60-bit
    * md5(seed:shingle) hash, for 16 seeds. Exact longs.
    */
  private[operators] def minhashSigsBuild(s: SparkSession, d: String): DataFrame = {
    val seeds = explode(expr("sequence(0, 15)")).as("seed")
    shingles(s, d).select(col("doc_id"), col("shingle"), seeds)
      .groupBy("doc_id", "seed")
      .agg(min(expr(h60Spark("concat(CAST(seed AS STRING), ':', shingle)")))
        .as("mh"))
  }

  /** Band-signature candidate pairs (a < b, distinct) — THE candidate
    * definition, defined once so dedup_minhash and dedup_cluster cannot
    * drift (the SQL side shares it the same way via mhBandCtes). Keeps
    * the band column so dedup_minhash can report which band matched.
    *
    * Hot buckets are CAPPED at df ∈ [2, 20] — the same discipline as
    * dedup_near's shingle blocking (TextOps.scala:75-77) applied to band
    * signatures: a signature shared by k docs emits k(k-1)/2 pairs from
    * the self-join, and the near-identical boilerplate (license headers,
    * templated pages) that forms hot buckets at 100 TB is exactly what
    * would make one bucket quadratic. A bucket that hot carries no
    * discrimination (its members band-collide on MANY signatures — the
    * information-theoretic argument dedup_near already documents), and a
    * true near-dup pair inside a dropped bucket still has 7 other bands
    * to collide in (recall is property-tested in PropertySpec). The ≥2
    * bound additionally prunes singleton buckets BEFORE the self-join.
    * The cap count is one partial-aggregated pass on (band, sig) — the
    * same key the join shuffles on, so the semi-join is co-partitioned.
    */
  private[operators] val bandBucketCap = 20

  private[operators] def bandPairs(bands: DataFrame): DataFrame = {
    val okBuckets = bands.groupBy("band", "sig")
      .agg(count(lit(1)).as("n_bkt"))
      .filter(col("n_bkt").between(2, bandBucketCap))
      .select("band", "sig")
    // merge-locked self-join: the capped postings are corpus-proportional,
    // so neither side may ever be a static-planner broadcast build
    val capped = bands.join(okBuckets, Seq("band", "sig"), "left_semi")
      .hint("merge")
    capped.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"), col("x.band").as("band"))
  }

  /** Connected components by hash-min label propagation: every vertex
    * starts labeled with its own id; each round a vertex takes the min of
    * its own and its neighbors' labels, until a full round changes nothing.
    * Converges in ≤ diameter rounds (near-dup clusters are band-join
    * cliques, so 1-2 rounds in practice; the classic O(log n) variants —
    * large-star/small-star, Kiveris et al. 2014 — swap in here if a graph
    * with long chains ever shows up). Each round is ONE keyed shuffle
    * (union + min-aggregate) over (vertex, label) pairs — state is bounded
    * by |V| + |E|, never materialized driver-side. The default maxRounds
    * of 60 leaves 2× margin over the property test's worst generatable
    * case (a 30-vertex path needs 29 rounds + 1 no-change round).
    *
    * `edges` must have two id columns (src, dst), one row per undirected
    * edge; returns (doc_id, label) with label = min id in the component.
    */
  /** Free a localCheckpoint'd frame's blocks. `Dataset.unpersist` only
    * consults the CacheManager (no-op for checkpoints); the materialized
    * blocks live on the RDD under the LogicalRDD leaf.
    */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The bidirectional edge cache for one connectedComponents run, cached
    * PRE-PARTITIONED on the join key (round 18): the InMemoryRelation
    * advertises hashpartitioning(src), so every round's propagation join
    * reuses it and only the labels side (|V| rows) is exchanged — the old
    * unpartitioned cache re-shuffled all 2·|E| edge rows through an
    * Exchange every round. One upfront shuffle of e replaces one per round
    * (guide §2.4 — two operations keyed the same way share one exchange).
    * A/B (interleaved ×3, sf0.1 components derivation): 5.31 → 3.73 s.
    * Exposed private[graft] so PlanEvidenceSpec pins the round-plan shape
    * on the REAL construction, not a reconstruction.
    */
  private[graft] def ccEdgeCache(edges: DataFrame): DataFrame = {
    val bidir = edges.toDF("src", "dst")
    bidir.union(bidir.select(col("dst"), col("src"))).toDF("src", "dst")
      .repartition(col("src"))
      .cache()
  }

  /** One min-label propagation round: own ∪ neighbors' labels, keyed min.
    * merge-locked: labels and edges are both graph-proportional — neither
    * may ever be a static-planner broadcast build (the round-9 ×30
    * lesson); one keyed shuffle per round is the designed cost model.
    */
  private[graft] def ccRound(e: DataFrame, labels: DataFrame): DataFrame = {
    val prop = e.join(labels.hint("merge"), e("src") === labels("doc_id"))
      .select(e("dst").as("doc_id"), col("label"))
    labels.select(col("doc_id"), col("label")).union(prop)
      .groupBy("doc_id").agg(min(col("label")).as("label"))
  }

  def connectedComponents(edges: DataFrame, maxRounds: Int = 60): DataFrame = {
    val e = ccEdgeCache(edges)
    // materialize ONCE before anything derives from e: the edge lineage may
    // be expensive (minhash banding), and the first convergence check would
    // otherwise evaluate it twice — once under `next`, once under the old
    // `labels` — before either cache is filled (measured 16.8s → 4.9s at
    // sf0.1 from this alone)
    e.count()
    // Each round ends in an eager checkpoint, not a cache: a cached round
    // still carries every earlier round's plan, which the final consumer
    // replays (measured: a ~9 s tail on a 2.4k-row result)
    var labels = e.select(col("src").as("doc_id"))
      .distinct().withColumn("label", col("doc_id"))
      .localCheckpoint(true) // §19 B1
    // Convergence by the MONOTONE-SUM invariant (round 17): hash-min
    // propagation is pointwise non-increasing — next.label =
    // min(own ∪ neighbors' labels) ≤ own label, over the same doc_id set
    // (the union keeps every vertex) — so Σlabel unchanged ⟺ every label
    // unchanged. One tiny aggregate over the just-materialized checkpoint
    // replaces the old per-round next ⋈ labels merge-join + count (two
    // sorts + an SMJ over |V| rows per round, purely for the check).
    // DECIMAL(38,0) sums are exact at any graph size this engine targets
    // (|V|·max_id ≤ 10³⁸); the count distinguishes the legitimate
    // empty-graph NULL (ZERO) from a non-ANSI overflow NULL, which would
    // otherwise compare ZERO == ZERO across two overflowed iterations and
    // silently declare convergence (ADVICE r17 #2 — unreachable under the
    // 10³⁸ bound, but the failure mode must be loud, not wrong).
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("label").cast(DecimalType(38, 0))),
        count(lit(1))).head()
      if (r.isNullAt(0)) {
        require(r.getLong(1) == 0L,
          "connectedComponents: label sum overflowed DECIMAL(38,0)")
        java.math.BigDecimal.ZERO
      } else r.getDecimal(0)
    }
    // Double-step fusion (two propagations per materialization) was tried
    // in round 18 and A/B-measured SLOWER (37 vs 33 jobs on the components
    // derivation: under AQE the fused lineage materializes more shuffle
    // stages than the skipped convergence check saves) — single-step with
    // the sum invariant stays the designed shape.
    var prevSum = labelSum(labels)
    var converged = false
    var rounds = 0
    try {
      while (!converged && rounds < maxRounds) {
        val next = ccRound(e, labels).localCheckpoint(true) // §19 B2
        val nextSum = labelSum(next)
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
        // `next` is eagerly materialized and its lineage truncated, so the
        // PREVIOUS round's checkpoint blocks are no longer referenced —
        // release them now instead of pinning one label table per round in
        // executor storage for the rest of the session (a many-round graph,
        // e.g. a long path, would otherwise hold ~maxRounds copies).
        // Dataset.unpersist is a CacheManager no-op for checkpoints; the
        // blocks belong to the LogicalRDD beneath the checkpointed frame.
        releaseCheckpoint(labels)
        labels = next
        rounds += 1
      }
      require(converged, s"connectedComponents: not converged after $rounds rounds")
    } finally e.unpersist() // release the edge cache even on non-convergence
    labels
  }

  /** Runs the whole minhash/shingle pipeline once on `d` — shingle
    * explode, xxhash codegen, band self-join, label-propagation loop — so
    * a benchmark can pay its one-time codegen untimed on a tiny fixture.
    */
  private[graft] def warmPipeline(s: SparkSession, d: String): Long =
    queries("dedup_cluster")(s, d).count()

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, d) =>
      documents(s, d)
        .groupBy(md5(lower(trim(col("text")))).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("content_hash")),

    "dedup_url" -> ((s, d) => {
      // crawl-URL canonicalization dedup — the pre-fetch dedup every web
      // pipeline runs BEFORE content dedup: scheme (http→https), case,
      // www-prefix, trailing-slash, query-string and fragment variants of
      // a page collapse to one canonical URL via a pure map-side regex
      // chain (codegen'd, no UDF), then ONE keyed shuffle counts copies.
      // Variant URLs are synthesized from order rows so both engines
      // canonicalize the SAME strings. Every regex here matches at most
      // once per string, so Spark's replace-all vs DuckDB's
      // replace-first-by-default semantics cannot diverge. THREE fused
      // passes, not five (round 5: regex execution dominates this key —
      // 600k URLs/pass): [#?].*$ strips fragment+query together (the
      // canonical form keeps neither, so first-of-either is equivalent),
      // and ^https?://(www\.)? folds the scheme upgrade and www-strip.
      val base = concat(lit("shop-"), col("o_custkey") % 50,
        lit(".example.com/p/"), col("o_orderkey") % 500)
      val raw = orders(s, d).withColumn("url",
        when(col("o_orderkey") % 4 === 0, concat(lit("https://"), base))
          .when(col("o_orderkey") % 4 === 1, concat(lit("http://www."), base, lit("/")))
          .when(col("o_orderkey") % 4 === 2,
            concat(lit("https://"), base, lit("?utm_source=feed&utm_id="), col("o_orderkey")))
          .otherwise(concat(lit("HTTPS://WWW."), upper(base), lit("#top"))))
      val canon = regexp_replace(regexp_replace(regexp_replace(
        lower(col("url")), "[#?].*$", ""),
        "^https?://(www\\.)?", "https://"), "/$", "")
      raw.select(canon.as("canon_url"), col("url"))
        .groupBy("canon_url")
        .agg(count(lit(1)).as("n_pages"), countDistinct(col("url")).as("n_variants"))
        .orderBy("canon_url")
    }),

    "dedup_near" -> ((s, d) => {
      // 3-word-shingle Jaccard near-dup with RARE-shingle candidate
      // blocking (round-2 verdict: an uncapped shingle self-join emits k²
      // pair rows for a k-doc shingle — boilerplate text makes that
      // quadratic at 100 TB). Frequent shingles carry no dedup signal, so
      // candidates come only from shingles with document frequency in
      // [2, 20] — via the same bounded two-pass shape as dedup_ngram
      // (count-filter FIRST, so no aggregation buffer exceeds the cap) —
      // AND must share at least 2 rare shingles (standard multi-block
      // agreement: a J≥0.5 pair of ~n-shingle docs shares ≥n/3 shingles,
      // so a single shared shingle is noise; measured at sf0.1 this cuts
      // candidates 1.12M → 110k with identical output). Exact Jaccard is
      // then computed over the FULL shingle sets of the surviving pairs,
      // shipped ONCE per doc as a sorted array and intersected in-row
      // (array_intersect) — the round-2 pair×shingle-row join exploded to
      // ~100M rows before aggregating; this shape peaks at
      // |pairs| × 2 bounded arrays. Shingles join on their portable
      // 60-bit md5 hash, not the string: the blocking join shuffles and
      // compares longs instead of ~20-char strings; the oracle applies the
      // same hash so any (negligible, ~1e-7) collision agrees cross-engine.
      // hash at EXTRACTION (before the distinct), so the dedup shuffle
      // moves (doc_id, long) rows instead of ~20-char shingle strings —
      // dedup_minhash keeps the string form because its hash family needs
      // the raw shingle under each seed. Shingle definition comes from the
      // SAME shingleRows projection dedup_minhash uses (single-sourced),
      // and the candidate+verify machinery is shinglePairStats — shared
      // with sim_containment so the two variants cannot drift.
      val jacc = col("i").cast(DoubleType) / (col("na") + col("nb") - col("i"))
      shinglePairStats(s, d)
        .filter(jacc >= 0.5)
        .select(col("a"), col("b"), r4(jacc).as("jaccard"))
        .orderBy("a", "b")
    }),

    "sim_containment" -> ((s, d) => {
      // asymmetric near-dup: containment C = |A∩B| / min(|A|, |B|) flags a
      // short doc embedded in a longer one (quotes, boilerplate wrappers,
      // doc-in-doc) that Jaccard structurally misses — J = i/(na+nb-i)
      // shrinks as the size ratio grows while C stays at 1.0 for a true
      // subset. The Broder containment-vs-resemblance distinction; a
      // training pipeline runs BOTH (near-dup removal AND quote/subset
      // detection). Shares the rare-shingle candidate machinery with
      // dedup_near (shinglePairStats) — same 100 TB posture: bounded
      // blocking, per-pair in-row verify. Jaccard is emitted alongside so
      // the asymmetric pairs (high C, low J) are visible in the output.
      val cont = col("i").cast(DoubleType) / least(col("na"), col("nb"))
      val jacc = col("i").cast(DoubleType) / (col("na") + col("nb") - col("i"))
      shinglePairStats(s, d)
        .filter(cont >= 0.8)
        .select(col("a"), col("b"), r4(cont).as("containment"), r4(jacc).as("jaccard"))
        .orderBy("a", "b")
    }),

    "corpus_decontam" -> ((s, d) => {
      // benchmark decontamination — the training-corpus hygiene pass every
      // LLM pipeline runs (GPT-3/PaLM-style n-gram overlap): flag train
      // docs sharing any shingle with a held-out eval set, standing in
      // for an external benchmark suite. The eval slice is FIXED-SIZE by
      // construction (doc_id % 100 == 0 AND doc_id < 2000 — at most 20
      // docs no matter how large the corpus grows; the id cap never binds
      // at fixture scale, so results are unchanged at sf ≤ 0.1), because
      // that is what a real benchmark suite is: corpus-INDEPENDENT, MBs
      // not TBs. Output per contaminated train doc: how many of its
      // shingles hit the eval set and how many distinct eval docs it
      // overlaps — the evidence a removal decision is made on.
      // 100 TB shape: the EVAL side is the bounded one, so its shingle
      // set is broadcast and the corpus is probed MAP-SIDE in a single
      // scan — no shuffle proportional to corpus size; the final per-doc
      // aggregate shuffles only the (rare) hit rows.
      val sh = hashedShingles(s, d)
      val isEval = col("doc_id") % 100 === 0 && col("doc_id") < 2000
      val evalSh = sh.filter(isEval)
        .select(col("sh"), col("doc_id").as("eval_id"))
      sh.filter(!isEval)
        .join(broadcast(evalSh), "sh")
        .groupBy("doc_id")
        .agg(countDistinct(col("sh")).as("n_hit_shingles"),
          countDistinct(col("eval_id")).as("n_eval_docs"))
        .orderBy("doc_id")
    }),

    "dedup_minhash" -> ((s, d) => {
      // MinHash-LSH scale path. 16 minhashes, 8 bands of 2
      // (P[candidate | J=0.8] ≈ 0.9997): band-signature join yields
      // candidates without an all-pairs scan — THE way near-dup runs at
      // 100 TB. Hash family is md5-derived (low 60 bits of md5(seed:shingle)
      // — engine-portable, so the whole pipeline has a full DuckDB oracle;
      // recall vs exact Jaccard is additionally property-tested).
      // Candidates come from the materialize-once seam (Derived.bandPairs)
      // — same definition, derived once per sf dir, scanned here.
      Derived.bandPairs(s, d)
        .distinct()
        .orderBy("a", "b", "band")
    }),

    "sim_minhash_est" -> ((s, d) => {
      // the sketch-calibration audit: for every LSH candidate pair,
      // MinHash's Jaccard estimate (matching signature positions / 16)
      // NEXT TO the exact Jaccard — how a pipeline validates that its
      // banding threshold actually separates dups from neighbors before
      // trusting the sketch at 100 TB (E[est] = J; σ = √(J(1-J)/16)).
      // Plan: the CANDIDATE DOC SET (bounded by the capped bandPairs
      // artifact) semi-joins the shingle streams FIRST, so signatures and
      // exact sets — bounded per-doc arrays (16 longs; ≤ shingle-count
      // longs) — are built for candidate docs only, never the whole
      // corpus (the shinglePairStats candDocs discipline); both are then
      // equi-joined onto the candidate list. The estimate and the exact
      // ratio are in-row array folds in exact fixed-point. No fan-out
      // beyond the already-capped bandPairs.
      val candDocs = Derived.bandPairs(s, d)
        .select(explode(array(col("a"), col("b"))).as("doc_id")).distinct()
      // round 17: per-(doc, seed) minhashes come from the shared
      // Derived.minhashSigs artifact (semi-join-then-group ≡ the old
      // group-after-semi-join per doc — minhashes are per-doc-independent)
      // instead of re-running the 16-seed md5 fold over candidate shingles
      val sigs = Derived.minhashSigs(s, d)
        .join(candDocs, Seq("doc_id"), "left_semi")
        .groupBy("doc_id")
        .agg(expr("transform(sort_array(collect_list(struct(seed, mh))), t -> t.mh)")
          .as("sig"))
      val sets = hashedShingles(s, d).join(candDocs, Seq("doc_id"), "left_semi")
        .groupBy("doc_id")
        .agg(sort_array(collect_list(col("sh"))).as("st"),
          count(lit(1)).as("n"))
      // candidate pairs come from the materialize-once seam — the same
      // capped band join dedup_minhash scans (Derived.bandPairs), so the
      // band self-join is not re-derived here at all; this key pays only
      // for the per-candidate signature/set arrays it uniquely needs
      // merge-locked verify joins: signatures and shingle sets are
      // corpus-proportional — never a broadcast build (round-9 ×30 lesson)
      Derived.bandPairs(s, d).select("a", "b").distinct()
        .join(sigs.hint("merge").select(col("doc_id").as("a"), col("sig").as("siga")), "a")
        .join(sigs.hint("merge").select(col("doc_id").as("b"), col("sig").as("sigb")), "b")
        .join(sets.hint("merge").select(col("doc_id").as("a"), col("st").as("sa"), col("n").as("na")), "a")
        .join(sets.hint("merge").select(col("doc_id").as("b"), col("st").as("sb"), col("n").as("nb")), "b")
        .withColumn("n_match",
          expr("CAST(size(filter(zip_with(siga, sigb, (x, y) -> x = y), v -> v)) AS BIGINT)"))
        .withColumn("i", size(array_intersect(col("sa"), col("sb"))).cast(L))
        .select(col("a"), col("b"), col("n_match"),
          expr("(n_match * 10000) div 16").as("est_fp"),
          expr("(i * 10000) div (na + nb - i)").as("jacc_fp"))
        .orderBy("a", "b")
    }),

    "dedup_cluster" -> ((s, d) => {
      // The stage a real dedup pipeline runs AFTER candidate generation:
      // LSH candidate pairs form a graph whose connected components are the
      // duplicate clusters; each doc gets its component's min doc_id as
      // cluster_id (= the canonical copy to keep). Pairs come from the same
      // minhash band join as dedup_minhash; components via hash-min label
      // propagation (see connectedComponents — one keyed shuffle per round,
      // rounds ≤ cluster diameter). The oracle computes the identical
      // transitive closure with a recursive CTE (fine at fixture scale;
      // the Spark side is the one that has to — and does — scale).
      // round 17: cluster labels come from the materialize-once seam
      // (Derived.components) — dedup_keep_best and graph_components_hist
      // consume the SAME label propagation, previously re-run per key
      val labels = Derived.components(s, d)
      // cluster-count-proportional at corpus scale — merge-locked join back
      val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
        .hint("merge")
      labels.join(sizes, "label")
        .select(col("doc_id"), col("label").as("cluster_id"), col("cluster_size"))
        .orderBy("doc_id")
    }),

    "dedup_keep_best" -> ((s, d) => {
      // the decision stage AFTER clustering: each duplicate cluster keeps
      // exactly ONE representative — the longest copy (n_chars; doc_id
      // breaks ties deterministically) — and every clustered doc gets an
      // audit row saying who its keeper is and whether this copy
      // survives. Real pipelines rank by a quality score; length is the
      // fixture-expressible stand-in (swap the struct key to swap
      // policy). Plan: same clusters as dedup_cluster (single-sourced
      // via bandPairs + connectedComponents), doc-keyed join for
      // n_chars, then the keeper via ONE partial-aggregated
      // groupBy(label) arg-max — max(struct(n_chars, -doc_id)) — no
      // per-cluster window/sort; the keeper table (|clusters| rows,
      // corpus-proportional) joins back label-keyed, NOT broadcast.
      // round 17: labels from the shared Derived.components artifact
      val withLen = Derived.components(s, d)
        // distinct: cluster members are DOCS — duplicate pk rows must not
        // fan the audit (the oracle's comp-side join is per distinct doc)
        .join(documents(s, d).select(col("doc_id"), col("n_chars")).distinct(), "doc_id")
      val keeper = withLen.groupBy("label")
        .agg(max(struct(col("n_chars"), (lit(0L) - col("doc_id")).as("nd"))).as("k"))
        .select(col("label"), (lit(0L) - col("k.nd")).as("keeper_id"))
        .hint("merge") // |clusters| rows, corpus-proportional — the
                       // "NOT broadcast" above, now enforced in the plan
      withLen.join(keeper, "label")
        .select(col("doc_id"), col("label").as("cluster_id"), col("keeper_id"),
          (col("doc_id") === col("keeper_id")).as("keep"))
        .orderBy("doc_id")
    }),

    "dedup_simhash" -> ((s, d) => {
      // 16-bit SimHash per doc; token hashes are md5-derived (60-bit,
      // engine-portable → full DuckDB oracle; near-dup recall additionally
      // property-tested). The token hash is computed ONCE per token row,
      // then fanned out over the 16 bit positions.
      val bits = explode(expr("sequence(0, 15)")).as("bit")
      toks(s, d)
        .select(col("doc_id"), explode(col("t")).as("token"))
        .select(col("doc_id"),
          expr(h60Spark("token")).as("th"))
        .select(col("doc_id"), col("th"), bits)
        .groupBy("doc_id", "bit")
        .agg(sum(expr(
          "CASE WHEN (shiftright(th, CAST(bit AS INT)) & 1) = 1 THEN 1 ELSE -1 END"))
          .as("w"))
        .groupBy("doc_id")
        .agg(sum(expr(
          "CASE WHEN w > 0 THEN shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT)) ELSE CAST(0 AS BIGINT) END"))
          .as("simhash16"))
        .orderBy("doc_id")
    }),

    "dedup_ngram" -> ((s, d) => {
      // char-5-gram Jaccard near-dup with RARE-gram candidate blocking:
      // a naive gram self-join is O(sum df²) — measured 1.5e9 pair rows at
      // sf0.1 (vs 2e4 after blocking on grams with document frequency ≤ 20).
      // Frequent grams carry no dedup signal, so candidates come from rare
      // grams only; exact Jaccard is then computed over the FULL gram sets
      // of the surviving candidate pairs. This is the shape that holds at
      // 100 TB: df-filter is one partial-agg pass, the candidate join
      // touches only rare-gram postings, and the verify join is
      // |candidates| × gram-set, never corpus².
      // gram extraction stays OUT of HOF lambdas (higher-order functions
      // are interpreted, not codegen'd): explode the index sequence, then
      // substring as a codegen'd projection. Grams are hashed to portable
      // 60-bit longs AT EXTRACTION (same design as dedup_near's shingles):
      // the distinct, the df-count, and both verify joins then shuffle and
      // compare 8-byte longs instead of variable-length strings — neutral
      // at fixture scale (md5 cost ≈ string-shuffle savings on one file)
      // but strictly less shuffle volume per row at 100 TB — and the
      // (doc_id, long) table is small enough that caching it (unlike the
      // round-2 string cache, which cost more than recompute) is free.
      // Any ~1e-7 collision is shared by the oracle (same md5 family), so
      // the differential gate still holds.
      // round 18 (ngram probe, source in e6eaca1, interleaved at sf0.1):
      // two rewrites of this extraction/materialization A/B-measured
      // SLOWER and were not landed:
      // (a) in-row array_distinct(transform(...)) before hashing — the
      //     interpreted HOF costs more than the ~30% duplicate md5 calls it
      //     saves (in-doc dup ratio is only 1.43×); build 0.65 → 0.7-1.4 s;
      // (b) repartition(gram) + cache so the df-count/semi-join consumers
      //     reuse the partitioning (the ccEdgeCache shape) — the plan does
      //     lose the gram-keyed Exchanges, but three columnar
      //     InMemoryTableScan re-reads cost ~2.3× the row-format
      //     checkpoint scans they replace (rest 1.3-2.0 → 3.5-4.7 s).
      val g = fanout(documents(s, d)).filter(length(col("text")) >= 5)
        .select(col("doc_id"), lower(col("text")).as("t"))
        .select(col("doc_id"), col("t"),
          explode(expr("sequence(1, length(t) - 4)")).as("i"))
        .select(col("doc_id"), expr(h60Spark("substring(t, i, 5)")).as("gram"))
        .distinct()
        .localCheckpoint(true) // §19 C10: kept, measured slower without it
      // posting-list pair generation in TWO passes so no aggregation buffer
      // ever exceeds the df cap (round-2 verdict): pass 1 is a partial-agg
      // count that keeps only rare grams — a gram in 10M docs costs one
      // counter, never a 10M-element array; pass 2 semi-joins the
      // postings down to rare grams and THEN collects, so every
      // collect_list buffer holds ≤ dfCap doc_ids by construction. The a<b
      // pairs explode in-row — no rare⋈rare shuffle join over the gram table.
      // The cap is RELATIVE rarity with √N growth (20-doc floor): an
      // absolute df<=20 silently collapses recall as global duplication
      // grows (10x rehearsal, PERF.md §6.3 — "rare" must scale), but the
      // round-8 LINEAR cap (0.4%·N) is itself a 100 TB defect this
      // round's ×30 rehearsal exposed: pair explode per admitted gram is
      // df²/2 ≤ cap², so a cap linear in N makes one stop-phrase gram
      // cost 1.6e-5·N² pairs — at ×30 (N=150k, cap 600) the candidate
      // shuffle wrote >65 GB and died; at N=10^10 a single cap-df gram
      // would explode 8e14 pairs. √N is the IVF/coarseK balance applied
      // to postings: cap = max(20, ⌈0.28·√N⌉) bounds per-gram pair work
      // at cap²/2 = 0.0392·N while still growing without bound (the recall
      // property the round-8 fix bought). Families hotter than c/√N
      // prevalence are exactly the clique-heavy regime whose designed
      // posture is cluster/keep-best representation, not pair
      // enumeration (PERF.md §6.3b). Exactly 20 at every gate fixture
      // size (<= 5000 docs: ceil(0.28·√5000) = 20), mirrored textually
      // by the oracle. The corpus count rides into the plan as a
      // broadcast 1-row aggregate (round-9; previously a driver-side
      // count() action — one extra job per invocation for no reason).
      val dfCap = documents(s, d).agg(count(lit(1)).as("nd"))
        .select(expr("greatest(CAST(20 AS BIGINT), CAST(ceil(0.28 * sqrt(nd)) AS BIGINT))")
          .as("df_cap"))
      val rareGrams = g.groupBy("gram").agg(count(lit(1)).as("n_df"))
        .crossJoin(broadcast(dfCap))
        .filter(col("n_df") >= 2 && col("n_df") <= col("df_cap"))
        .select("gram")
      val cand = g.join(rareGrams, Seq("gram"), "left_semi")
        .groupBy("gram")
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .select(explode(expr(
          "flatten(transform(ds, (x, i) -> transform(slice(ds, i + 2, size(ds)), " +
          "y -> named_struct('a', x, 'b', y))))")).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b")).distinct()
        .hint("merge")
      // verify stage touches only the CANDIDATE docs' gram sets. Every
      // frame here is CORPUS-PROPORTIONAL (pairs, candidate docs, their
      // gram postings), so none of these joins may EVER broadcast — and
      // "no broadcast hint" is not enough to guarantee that: the ×30
      // clique-heavy rehearsal (1.64 M legitimate pairs) showed the
      // STATIC planner choosing broadcast from its post-aggregate size
      // underestimates and OOMing the driver while BUILDING the exchange —
      // AQE cannot demote a statically-planned broadcast it never got
      // runtime stats for. Explicit merge hints lock every verify-stage
      // join to sort-merge (spillable both sides, the only strategy with
      // no single-node size precondition); only the 1-row df-cap attach
      // stays a broadcast, by construction.
      val candDocs = cand.select(explode(array(col("a"), col("b"))).as("doc_id"))
        .distinct().hint("merge")
      // round 17: the verify stage ships each candidate doc's full gram
      // set ONCE as a sorted array and intersects IN-ROW (array_intersect
      // over distinct hashed longs — exactly the shinglePairStats shape),
      // replacing the old pair × shared-gram row join (gc joined twice,
      // keyed on (doc, gram)) with two doc-keyed joins + map work. Set
      // sizes fall out of the same arrays. Intersection counts are
      // identical: both sides are per-doc DISTINCT gram sets.
      val docSets = g.join(candDocs, Seq("doc_id"), "left_semi")
        .groupBy("doc_id").agg(sort_array(collect_list(col("gram"))).as("set"))
        .hint("merge")
      val jac = col("i").cast(DoubleType) / (col("na") + col("nb") - col("i"))
      cand
        .join(docSets.select(col("doc_id").as("a"), col("set").as("sa")), "a")
        .join(docSets.select(col("doc_id").as("b"), col("set").as("sb")), "b")
        .select(col("a"), col("b"),
          size(array_intersect(col("sa"), col("sb"))).cast(L).as("i"),
          size(col("sa")).cast(L).as("na"), size(col("sb")).cast(L).as("nb"))
        .filter(jac >= 0.7)
        .select(col("a"), col("b"), r4(jac).as("jaccard"))
        .orderBy("a", "b")
    }),

    "pipeline_incremental" -> ((s, d) => {
      // incremental-ingest dedup — the shape a DAILY crawl batch runs
      // against the historical corpus: each new doc (batch = doc_id % 10
      // == 9 standing in for today's arrivals) is classified dup_hist
      // (content already in history — skip), dup_batch (duplicate of an
      // earlier doc in the SAME batch — keep one), or unique. 100 TB
      // posture: history is touched ONLY as a distinct-hash semi-join
      // input (hashes, never text, move through the shuffle), and the
      // window runs over the BATCH side alone — per-day work scales with
      // the batch, not the corpus; at scale the historical hash set is a
      // bucketed table the daily join co-locates against.
      val withH = documents(s, d)
        .select(col("doc_id"), md5(lower(trim(col("text")))).as("h"))
      // |history| rows — merge-locked: at 100 TB the history hash set is
      // the BIG side; a static-planner broadcast of it is a driver OOM
      val hist = withH.filter(col("doc_id") % 10 =!= 9)
        .select("h").distinct().withColumn("in_hist", lit(true))
        .hint("merge")
      val w = Window.partitionBy("h").orderBy("doc_id")
      withH.filter(col("doc_id") % 10 === 9)
        .withColumn("rn", row_number().over(w))
        .join(hist, Seq("h"), "left")
        .select(col("doc_id"),
          when(col("in_hist"), "dup_hist")
            .when(col("rn") > 1, "dup_batch")
            .otherwise("unique").as("status"))
        .orderBy("doc_id")
    }),

    "pipeline_corpus" -> ((s, d) => {
      // END-TO-END training-corpus pipeline in one plan: quality filter →
      // exact dedup (keep min doc_id per normalized-content hash) → hash
      // split → per-split stats. The composite is what a user of this
      // library actually runs at 100 TB: every stage is a narrow map or a
      // single keyed shuffle, and the whole thing stays one Catalyst plan
      // (predicate pushdown reaches the scan; no intermediate
      // materialization).
      val w = Window.partitionBy("h").orderBy("doc_id")
      fanout(documents(s, d))
        .filter(col("n_chars") >= 100 &&
          size(split(lower(col("text")), " ")) >= 10)
        .withColumn("h", md5(lower(trim(col("text")))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .withColumn("split", expr(splitCase(s"($splitBucketSpark)")))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(lower(col("text")), " ")).cast(L)).as("total_tokens"),
          ratio4("sum(n_chars)", "count(1)").as("avg_chars"))
        .orderBy("split")
    }),

    "split_assign" -> ((s, d) =>
      // deterministic train/valid/test split (80/10/10) by id-hash: the
      // reproducible-split primitive every training pipeline needs — pure
      // map work (no shuffle, no RNG state), identical on re-run and on
      // any cluster size, and portable to the oracle via the md5-derived
      // 60-bit hash family
      documents(s, d)
        .select(col("doc_id"), expr(splitBucketSpark).as("bucket"))
        .select(col("doc_id"), expr(splitCase("bucket")).as("split"))
        .orderBy("doc_id")),

    "sample_stratified" -> ((s, d) => {
      // per-stratum deterministic downsampling — the rebalancing primitive
      // for over-represented languages in a training corpus (keep 20% of
      // 'en', 60% of everything else). Membership is decided per row by the
      // portable 60-bit hash, so the sample is pure map work: reproducible
      // across re-runs, cluster sizes, and engines (no RNG state, no
      // sampleBy seed drift), and composable with split_assign because the
      // two use different hash salts.
      val bucket = expr(h60Spark("concat('sample:', CAST(doc_id AS STRING))") + " % 100")
      documents(s, d)
        .withColumn("bucket", bucket)
        .filter(col("bucket") < when(col("lang") === "en", 20).otherwise(60))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    "sample_per_group" -> ((s, d) => {
      // fixed-k per-stratum sample ("keep 25 docs per language") — the
      // quota counterpart to sample_stratified's fractional keep: caps
      // EVERY stratum at the same absolute size regardless of its share,
      // which is what a balanced eval set needs. Selection ranks rows
      // within each stratum by the portable 60-bit hash (RNG-free,
      // engine/reproducible, distinct salt → composable with the other
      // sampling keys) — a per-stratum window, partitioned by language:
      // no global window, and at 100 TB the rank-k cutoff is the same
      // per-key top-k shape as win_topk_group (bounded heap per stratum).
      val w = Window.partitionBy("lang")
        .orderBy(expr(h60Spark("concat('pergroup:', CAST(doc_id AS STRING))")),
          col("doc_id"))
      documents(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 25)
        .select(col("doc_id"), col("lang"), col("rn").cast("bigint").as("rn"))
        .orderBy("doc_id")
    }),

    "text_bigram_prob" -> ((s, d) => {
      // bigram conditional probabilities P(w2|w1) = c(w1 w2)/c(w1 ∙) —
      // text_bigrams' counting extended to the actual n-gram LM estimate.
      // Both counts come from the SAME exploded pass (the bigram count and
      // its left-unigram context count), joined on the context word: two
      // keyed aggregates + one equi-join, all on token keys. Exact integer
      // counts; the probability is FIXED-POINT (c_bi·10⁶ DIV c_w1 — exact
      // rationals like 1/800 land exactly on round()'s .5 boundary where
      // the engines' double-rounding diverges; truncating integer division
      // cannot). Top-100 by probability with full tie-break (count,
      // bigram) so the slice is deterministic.
      val (_, biCnt, ctxCnt) = bigramCounts(s, d)
      biCnt.join(ctxCnt, "w1")
        .filter(col("c_w1") >= 10) // MLE over thin contexts is noise
        .select(col("bigram"), col("c_bi"), col("c_w1"),
          (expr("(c_bi * 1000000) DIV c_w1").cast(DoubleType) / 1000000.0).as("p"))
        .orderBy(col("p").desc_nulls_last, col("c_bi").desc_nulls_last, col("bigram"))
        .limit(100)
    }),

    "mix_quality_weighted" -> ((s, d) => {
      // DCLM/FineWeb-Edu-style quality-weighted sampling: P(keep) is
      // PROPORTIONAL to a per-doc quality score rather than a hard
      // filter — soft curation keeps tail diversity while upweighting
      // clean text. The score is the type-token ratio in exact integer
      // basis points (the text_quality signal, integer-cast so the
      // acceptance threshold is exact in both engines); membership is
      // the salted-hash formula shared with sample_weighted/split_assign
      // (h60 % 10000 < score_bp — RNG-free, cluster-size-independent,
      // composable via distinct salts). Pure map work: the decision
      // table (doc, score, verdict) emits for EVERY doc so the
      // acceptance curve is auditable, not just the survivors.
      toks(s, d)
        .select(col("doc_id"),
          expr("(CAST(size(array_distinct(t)) AS BIGINT) * 10000) div size(t)")
            .as("score_bp"),
          (expr(h60Spark("concat('mixq:', CAST(doc_id AS STRING))")) % 10000)
            .as("h"))
        .select(col("doc_id"), col("score_bp"),
          (col("h") < col("score_bp")).as("kept"))
        .orderBy("doc_id")
    }),

    "sample_weighted" -> ((s, d) => {
      // importance sampling: per-doc acceptance probability w ∝ length
      // (capped at 1) — the upweight-long-documents shape. Acceptance is
      // h60(salted id) % 1e6 < w·1e6: the hash side is an exact integer,
      // the weight side the same IEEE double in both engines, so
      // membership is reproducible across engines/cluster sizes with no
      // RNG state (composable with split_assign/sample_stratified via
      // distinct salts). Pure map work — no shuffle except the
      // presentation sort.
      val w = least(lit(1.0), length(col("text")).cast(DoubleType) / 400.0)
      documents(s, d)
        .withColumn("weight", w)
        .filter(expr(h60Spark("concat('wsample:', CAST(doc_id AS STRING))") +
          " % 1000000") < col("weight") * 1000000.0)
        .select(col("doc_id"), col("lang"), r4(col("weight")).as("weight"))
        .orderBy("doc_id")
    }),

    "text_pii_redact" -> ((s, d) => {
      // regex scan-and-redact with an audit count — the PII-scrubbing shape
      // (emails/phones/ids in production; fixture-vocab words here since
      // the synthetic text has no digits). The boundary is EXPLICIT ASCII
      // lookarounds, not \b (round 11, unicode edge variant): Java's \b is
      // unicode-aware (a CJK letter suppresses the boundary) while RE2's
      // is ASCII-only — the engines diverge on multibyte text. ASCII
      // boundaries are the standard PII posture (identifiers are ASCII);
      // RE2 has no lookarounds, so the oracle keeps \b, which in RE2 IS
      // the ASCII boundary — both sides now compute the same thing.
      // The redacted text is emitted as md5 so the oracle hash stays compact.
      val pat = "(?<![A-Za-z0-9_])(customer|value)(?![A-Za-z0-9_])"
      documents(s, d)
        .select(col("doc_id"),
          regexp_count(col("text"), lit(pat)).cast(L).as("n_hits"),
          md5(regexp_replace(col("text"), pat, "<REDACTED>"))
            .as("redacted_md5"))
        .orderBy("doc_id")
    }),

    "text_line_dedup" -> ((s, d) => {
      // C4/RefinedWeb-style cross-document line dedup: "lines" (8-token
      // segments — the fixture corpus has no newlines) repeated across
      // ≥25 documents are boilerplate; remove them from every doc and
      // reassemble. Boilerplate is synthesized deterministically (docs
      // with doc_id%5==0 get a fixed 8-token banner PREPENDED, so the
      // repeated text aligns to a segment boundary) — the join_fuzzy
      // dirty-data discipline, applied identically in the oracle.
      // 100 TB shape: segment build is map work; detection is ONE
      // (segment)-keyed partial-aggregating shuffle; removal is a
      // segment-keyed equi join (no broadcast of anything
      // corpus-proportional); reassembly is one doc-keyed agg with
      // per-doc-bounded state. Exactly the line-hash-groupBy plan the
      // C4 pipeline runs.
      val banner = "subscribe to our newsletter for more updates today"
      val segs = fanout(documents(s, d))
        // concat, NOT concat_ws: a NULL text must stay NULL (no segments —
        // the oracle's || semantics); concat_ws would resurrect the banner
        .withColumn("txt", when(col("doc_id") % 5 === 0,
          concat(lit(banner), lit(" "), col("text"))).otherwise(col("text")))
        .select(col("doc_id"), split(lower(col("txt")), " ").as("t"))
        .select(col("doc_id"), col("t"),
          explode(expr("sequence(0, (size(t)-1) div 8)")).as("si"))
        .select(col("doc_id"), col("si"),
          expr("concat_ws(' ', slice(t, si*8+1, 8))").as("seg"))
      // segment-vocab-proportional — merge-locked (never a broadcast build)
      val dfCnt = segs.groupBy("seg").agg(countDistinct(col("doc_id")).as("df"))
        .hint("merge")
      segs.join(dfCnt, "seg")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast(L).as("n_segs"),
          sum(when(col("df") >= 25, 1L).otherwise(0L)).as("n_removed"),
          md5(concat_ws(" ", expr(
            "transform(filter(sort_array(collect_list(struct(si, seg, df)))," +
            " x -> x.df < 25), x -> x.seg)"))).as("clean_md5"))
        .orderBy("doc_id")
    }),

    "text_repetition" -> ((s, d) => {
      // Gopher-style within-doc repetition screen: fraction of duplicate
      // word trigrams per doc (the "remove pathologically repetitive
      // docs" quality rule). Repetition is synthesized deterministically
      // (doc_id%7==0 doubles its text → ~50% duplicate trigrams). All
      // work is per-row map arithmetic — trigram array + in-row distinct;
      // NO shuffle at any scale except the output sort. The ratio is
      // exact fixed-point (n_tri-n_uniq)*10000 div n_tri: round() on
      // exact rationals hits the engines' divergent .5 double-rounding
      // (the text_bigram_prob lesson).
      fanout(documents(s, d))
        .withColumn("txt", when(col("doc_id") % 7 === 0,
          concat_ws(" ", col("text"), col("text"))).otherwise(col("text")))
        .withColumn("t", split(lower(col("txt")), " "))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"), expr(
          "transform(sequence(0, size(t)-3)," +
          " i -> concat_ws(' ', t[i], t[i+1], t[i+2]))").as("tri"))
        .select(col("doc_id"),
          size(col("tri")).cast(L).as("n_tri"),
          size(array_distinct(col("tri"))).cast(L).as("n_uniq"))
        .withColumn("dup_fp", expr("((n_tri - n_uniq) * 10000) div n_tri"))
        .orderBy("doc_id")
    }),

    "pack_sequences" -> ((s, d) => {
      // Fixed-budget sequence packing — the "pack documents into
      // 512-token training sequences" preprocessing step: concatenate
      // docs per language in doc_id order; each doc is assigned the pack
      // and offset where its first token lands. The global per-lang
      // running sum does NOT use a global window: winNtile's two-phase
      // plan (Windows.scala) — range-partition on the total order
      // (lang, doc_id), local cumsum per (partition, lang) window, and
      // per-(partition, lang) token totals (≤ partitions × langs rows —
      // bounded by cluster width, not data) folded into broadcast
      // cumulative offsets IN-PLAN by a per-lang window over the bounded
      // grid (round 18 — replaces the driver collect; the offsets window
      // partitions by lang, so no single-partition exchange at any scale).
      val budget = 512L
      val parts = s.sparkContext.defaultParallelism
      // lk: null-safe packing key — SQL window PARTITION BY groups NULL
      // langs into one real partition (the oracle's semantics), but an
      // equi-JOIN on lang would silently drop them; the  sentinel is
      // outside the lang domain and never emitted
      val toksz = fanout(documents(s, d))
        .select(col("doc_id"), col("lang"),
          coalesce(col("lang"), lit("<null>")).as("lk"),
          size(split(lower(col("text")), " ")).cast(L).as("n_tok"))
      // repartitionByRange samples its boundaries per job, so the offsets
      // fold and the final join must read one frozen partitioning
      val ranged = toksz.repartitionByRange(parts, col("lk"), col("doc_id"))
        .withColumn("pid", spark_partition_id())
        .localCheckpoint(true) // §19 A2
      val wLoc = Window.partitionBy("pid", "lk").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val local = ranged.withColumn("lb",
        coalesce(sum(col("n_tok")).over(wLoc), lit(0L)))
      val wOff = Window.partitionBy("lk").orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offDf = ranged.groupBy("pid", "lk")
        .agg(coalesce(sum(col("n_tok")), lit(0L)).as("sm"))
        .withColumn("off", coalesce(sum(col("sm")).over(wOff), lit(0L)))
        .select(col("pid"), col("lk"), col("off"))
      local.join(broadcast(offDf), Seq("pid", "lk"))
        .withColumn("before", col("off") + col("lb"))
        .select(col("doc_id"), col("lang"), col("n_tok"),
          expr(s"before div $budget").as("pack_id"),
          expr(s"before % $budget").as("pack_offset"))
        // pack fields complete the total order: duplicate-pk rows carry
        // distinct offsets whose within-tie emit order is engine-arbitrary
        .orderBy("lang", "doc_id", "pack_id", "pack_offset")
    }),

    "dedup_span" -> ((s, d) => spanDedup(toks(s, d))),

    "split_leakage" -> ((s, d) => {
      // Train/test contamination gate — the composition every training
      // pipeline must run before shipping a split: near-dup pairs
      // (dedup_near's EXACT machinery — shared shinglePairStats, so this
      // gate cannot drift from what dedup actually finds) that STRADDLE
      // split boundaries (split_assign's EXACT formula — shared
      // splitBucketSpark) are leakage: training contains a near-copy of
      // an eval doc. Plan: pair generation is the capped-blocking shape
      // (scale-safe per dedup_near); split assignment is pure map work
      // joined doc-keyed onto the small surviving pair list.
      val jacc = col("i").cast(DoubleType) / (col("na") + col("nb") - col("i"))
      val pairs = shinglePairStats(s, d).filter(jacc >= 0.5)
        .select(col("a"), col("b"), r4(jacc).as("jaccard"))
      // |corpus| rows behind a narrow Project: the width-ratio size
      // estimate collapses (wide text column pruned), which is exactly
      // the static-broadcast trap — merge-locked
      val splits = documents(s, d)
        .select(col("doc_id"), expr(splitCase(s"($splitBucketSpark)")).as("split"))
        .hint("merge")
      pairs
        .join(splits.select(col("doc_id").as("a"), col("split").as("split_a")), "a")
        .join(splits.select(col("doc_id").as("b"), col("split").as("split_b")), "b")
        .filter(col("split_a") =!= col("split_b"))
        .select(col("a"), col("b"), col("split_a"), col("split_b"), col("jaccard"))
        .orderBy("a", "b")
    }),

    "text_perplexity" -> ((s, d) => pplScores(s, d).orderBy("doc_id")),

    "quality_ccnet_bucket" -> ((s, d) => {
      // CCNet's actual OUTPUT shape: every doc binned head/middle/tail by
      // corpus perplexity terciles (Wenzek et al. publish the corpus in
      // exactly these three buckets; most consumers train on head+middle).
      // Scores are THE text_perplexity pipeline (shared pplScores helper —
      // this audits the path, not a lookalike). Tercile cutoffs without a
      // global sort: aggregate to per-SCORE-VALUE counts (bounded by the
      // distinct ×100-fixed-point scores, never docs), running-sum over
      // that value-ordered table (the profile_topk/rolling-median
      // windows-over-values discipline), then cutoff k = min score whose
      // cumulative count reaches ceil(k·n/3). Boundaries are defined on
      // VALUES, so ties land in one bucket deterministically in both
      // engines. The 1-row cutoff table cross-joins back broadcast; the
      // corpus is never globally sorted and never shuffled beyond the
      // score aggregation it already pays in text_perplexity.
      // round 17: the artifact IS already materialized parquet, so the
      // old localCheckpoint (another copy of the same rows) is dropped
      val ppl = pplScores(s, d)
        .select(col("doc_id"), col("ppl_bits_x100"))
      val vc = ppl.groupBy("ppl_bits_x100").agg(count(lit(1)).as("nv"))
      val w = Window.orderBy("ppl_bits_x100")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = vc.withColumn("cum", sum(col("nv")).over(w))
      val cuts = cum
        .crossJoin(broadcast(vc.agg(sum(col("nv")).as("n"))))
        .agg(
          min(when(col("cum") >= expr("(n + 2) div 3"), col("ppl_bits_x100"))).as("c1"),
          min(when(col("cum") >= expr("(2 * n + 2) div 3"), col("ppl_bits_x100"))).as("c2"))
      ppl.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("ppl_bits_x100"),
          when(col("ppl_bits_x100") <= col("c1"), lit("head"))
            .when(col("ppl_bits_x100") <= col("c2"), lit("middle"))
            .otherwise(lit("tail")).as("bucket"))
        .orderBy("doc_id")
    }),

    "tok_zipf" -> ((s, d) => {
      // Zipf-law fit over the corpus token-frequency distribution — the
      // one-row tokenizer-health panel: natural text follows freq ∝
      // rank^s with s ≈ −1, and a slope far off that (or a poor R²)
      // flags boilerplate-heavy or synthetic corpora before any
      // training run. Plan: one token-keyed partial agg (vocab counts,
      // Heaps-bounded), TakeOrderedAndProject to the top-100 head, and
      // the rank window + least-squares fold run over those 100 rows —
      // the post-limit bounded-window case (dedup_embed discipline).
      // The fit itself is regr_slope/intercept/r2 on the log-log points:
      // co-moment sketches, constant state. round(,4) + −0.0 pinning
      // absorb the engines' accumulation-order and libm-ln ulps.
      val top = toks(s, d)
        .select(explode(col("t")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc_nulls_last, col("word")).limit(100)
      top
        .withColumn("rnk",
          row_number().over(Window.orderBy(col("c").desc, col("word"))).cast(L))
        .agg(
          count(lit(1)).cast(L).as("n_fit"),
          (r4(regr_slope(log(col("c")), log(col("rnk")))) + lit(0.0)).as("zipf_slope"),
          (r4(regr_intercept(log(col("c")), log(col("rnk")))) + lit(0.0)).as("zipf_icept"),
          (r4(regr_r2(log(col("c")), log(col("rnk")))) + lit(0.0)).as("fit_r2"))
    }),

    "eval_ngram_f1" -> ((s, d) => {
      // ROUGE-1-style unigram overlap F1 between paired documents — the
      // generation-eval primitive (candidate vs reference summary/
      // translation scoring). Pairs are (2k, 2k+1) by doc_id; overlap is
      // the CLIPPED multiset intersection Σ_w min(c_cand, c_ref) — the
      // exact ROUGE/BLEU clipping rule — and precision/recall/F1 stay in
      // EXACT integer basis points (F1 = 2·ov/(lc+lr) algebraically, so
      // no float ratio ever forms; engines agree bit-for-bit). Plan: map
      // explode → ONE (pair, word)-keyed partial agg building both sides'
      // counts in the same row (no self-join of candidate vs reference
      // streams) → ONE pair-keyed rollup. Both aggs map-side combinable;
      // at 100 TB pairs hash-partition independently — no skew shape.
      val tk = toks(s, d)
        .select(expr("doc_id div 2").as("pair_id"),
          (col("doc_id") % 2).as("side"), explode(col("t")).as("word"))
      tk.groupBy("pair_id", "word")
        .agg(
          sum(when(col("side") === 0, 1L).otherwise(0L)).as("c0"),
          sum(when(col("side") === 1, 1L).otherwise(0L)).as("c1"))
        .groupBy("pair_id")
        .agg(
          sum(least(col("c0"), col("c1"))).as("overlap"),
          sum(col("c0")).as("len_cand"),
          sum(col("c1")).as("len_ref"))
        .filter(col("len_cand") > 0 && col("len_ref") > 0)
        .select(col("pair_id"), col("overlap"), col("len_cand"), col("len_ref"),
          expr("overlap * 10000 div len_cand").as("p_bp"),
          expr("overlap * 10000 div len_ref").as("r_bp"),
          expr("overlap * 2 * 10000 div (len_cand + len_ref)").as("f1_bp"))
        .orderBy("pair_id")
    }),

    "tokenizer_bpe" -> ((s, d) => {
      // BPE tokenizer training, step 1: adjacent-symbol-pair frequencies
      // weighted by word frequency — the merge-candidate table byte-pair
      // encoding greedily consumes (Sennrich et al.; every GPT/Llama
      // vocab starts exactly here). The scale trick is aggregating to the
      // VOCABULARY first: pair explosion runs over distinct words (Heaps'
      // law — vocab ≪ corpus), carrying each word's corpus count as the
      // weight, so the quadratic-ish character fan-out touches thousands
      // of rows, not billions. Plan: one token-keyed partial agg (word
      // counts), map-side pair explode over the vocab, one pair-keyed
      // agg, TakeOrdered for the merge table. Ties break on the pair
      // string so the merge order is deterministic.
      val wordCnt = toks(s, d)
        .select(explode(col("t")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c_w"))
      wordCnt.filter(length(col("word")) >= 2)
        .select(col("word"), col("c_w"),
          explode(expr("sequence(1, length(word)-1)")).as("i"))
        .select(expr("substring(word, i, 2)").as("pair"), col("c_w"))
        .groupBy("pair").agg(sum(col("c_w")).as("n"))
        .orderBy(col("n").desc_nulls_last, col("pair"))
        .limit(30)
    }),

    "mix_sources" -> ((s, d) => {
      // Pile/Dolma-style corpus mixing: hit a TARGET language mixture
      // (uniform 20% per language of a half-corpus token budget) by
      // deterministic per-language downsampling. The acceptance rate per
      // language is min(1, target_n / n_docs) in ppm — exact integer
      // division off two counts — and membership is the salted-hash
      // formula shared with sample_weighted/split_assign (composable,
      // RNG-free, identical on any cluster size). Languages scarcer than
      // their target keep everything (rate clamps at 1e6 ppm); the
      // overrepresented language (en) is cut to the target. Plan: one
      // per-lang count agg (5 groups), the tiny rate table broadcasts
      // back onto the corpus, acceptance is map-side hash arithmetic, and
      // the audit rollup is one 5-group agg — the corpus is scanned
      // twice, shuffled never (beyond 5-row aggregates).
      val counts = documents(s, d).groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val total = counts.agg(sum(col("n_docs")).as("total"))
      val rates = counts.crossJoin(broadcast(total))
        .withColumn("rate_ppm",
          least(lit(1000000L), expr("((total div 2) div 5) * 1000000 div n_docs")))
        .select(col("lang"), col("n_docs"), col("rate_ppm"))
      documents(s, d)
        .join(broadcast(rates), "lang")
        .withColumn("keep",
          expr(h60Spark("concat('mix:', CAST(doc_id AS STRING))") +
            " % 1000000") < col("rate_ppm"))
        .groupBy("lang")
        .agg(max(col("n_docs")).as("n_docs"), max(col("rate_ppm")).as("rate_ppm"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy("lang")
    }),

    "mix_temperature" -> ((s, d) => {
      // temperature-scaled multilingual sampling (mT5/XLM-R α=0.5):
      // sampling weight ∝ n^α flattens the language distribution —
      // low-resource languages are upsampled RELATIVE to raw frequency
      // without the uniform target mix_sources imposes. Determinism
      // discipline: sqrt is IEEE-correctly-rounded (identical both
      // engines), and the weight-sum folds LEFT-ASSOCIATIVELY over the
      // lang-sorted list in both engines (aggregate-over-sorted-array
      // here, list_reduce-over-ordered-list in the oracle — the win_ewma
      // lesson: a 5-double sum in engine-chosen order differs by ulps and
      // a floor() boundary amplifies that to ±1 ppm). The rate formula is
      // the same arithmetic text in both dialects, so every intermediate
      // double is bit-identical. Same plan shape as mix_sources: one
      // 5-group agg, a broadcast rate table, map-side salted-hash
      // acceptance.
      val counts = documents(s, d).groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val tot = counts.agg(
        sum(col("n_docs")).as("total"),
        expr("""aggregate(
             transform(array_sort(collect_list(struct(lang, n_docs))),
               t -> sqrt(CAST(t.n_docs AS DOUBLE))),
             CAST(0.0 AS DOUBLE), (a, x) -> a + x)""").as("w_sum"))
      val rates = counts.crossJoin(broadcast(tot))
        .withColumn("rate_ppm", least(lit(1000000L), expr(
          """CAST(floor(((total DIV 2) * sqrt(CAST(n_docs AS DOUBLE)) / w_sum)
                 * 1000000 / n_docs) AS BIGINT)""")))
        .select(col("lang"), col("n_docs"), col("rate_ppm"))
      documents(s, d)
        .join(broadcast(rates), "lang")
        .withColumn("keep",
          expr(h60Spark("concat('mixt:', CAST(doc_id AS STRING))") +
            " % 1000000") < col("rate_ppm"))
        .groupBy("lang")
        .agg(max(col("n_docs")).as("n_docs"), max(col("rate_ppm")).as("rate_ppm"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy("lang")
    }),

    "text_bigrams" -> ((s, d) =>
      // corpus bigram frequency (the n-gram LM counting shape): index
      // explode + plain-projection concat (codegen'd, not a HOF lambda),
      // one keyed shuffle for the count, TakeOrdered for the top slice
      toks(s, d).filter(size(col("t")) >= 2)
        .select(col("t"), explode(expr("sequence(0, size(t)-2)")).as("i"))
        .select(concat_ws(" ", col("t")(col("i")), col("t")(col("i") + 1)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc_nulls_last, col("bigram"))
        .limit(100)),

    "text_tokenize" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
        .orderBy("doc_id", "token")),

    "text_wordcount" -> ((s, d) =>
      documents(s, d)
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc_nulls_last, col("token"))
        .limit(100)),

    "text_tfidf" -> ((s, d) => {
      val tok = fanout(documents(s, d))
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      // vocab-proportional df table — merge-locked; tf is already
      // token-keyed from its own agg, so the SMJ adds a sort, not a shuffle.
      // round 18: rolling df up from tf instead (df = count of tf rows per
      // token) was tried and is a NO-OP — Catalyst prunes tf's unused count
      // buffer, collapsing the rollup to the identical distinct-then-count
      // physical plan, and the fanout exchange under both corpus passes is
      // already AQE-reused (tf-idf probe final plans, source in f75470a:
      // byte-identical trees).
      val df = tok.select("doc_id", "token").distinct()
        .groupBy("token").agg(count(lit(1)).as("df")).hint("merge")
      val n = documents(s, d).agg(count(lit(1)).as("n_docs"))
      tf.join(df, "token").crossJoin(broadcast(n))
        .select(col("doc_id"), col("token"), col("tf"),
          r4(col("tf") * log((col("n_docs") + 1).cast(DoubleType) / (col("df") + 1)))
            .as("tfidf"))
        .orderBy("doc_id", "token")
    }),

    "text_lang_stats" -> ((s, d) =>
      documents(s, d).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          ratio4("sum(n_chars)", "count(1)").as("avg_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang")),

    "text_langid" -> ((s, d) => langidPred(s, d).orderBy("doc_id")),

    "lang_confusion" -> ((s, d) => {
      // declared-metadata vs classifier confusion matrix — the label-noise
      // audit run before trusting either signal for mixing/filtering
      // decisions (crawl metadata lies; classifiers drift): per (declared
      // lang, predicted class) doc counts plus each cell's share of its
      // declared language in exact basis points. Predictions are THE
      // text_langid classifier (shared langidPred helper). Plan: classify
      // map-side, one doc-keyed join to attach the declared label, one
      // (lang, pred) agg — output bounded by |langs|·|classes|, and the
      // per-lang totals derive from the CELLS (5-row agg, broadcast
      // back), never a second corpus pass.
      val cm = langidPred(s, d).select("doc_id", "pred")
        .join(documents(s, d).select(col("doc_id"), col("lang")), "doc_id")
        .groupBy("lang", "pred").agg(count(lit(1)).as("n_docs"))
      val tot = cm.groupBy("lang").agg(sum(col("n_docs")).as("n_lang"))
      cm.join(broadcast(tot), "lang")
        .select(col("lang"), col("pred"), col("n_docs"),
          expr("n_docs * 10000 div n_lang").as("share_bp"))
        .orderBy("lang", "pred")
    }),

    "doc_length_hist" -> ((s, d) => {
      // token-length histogram in power-of-2 buckets — the length panel
      // consulted before choosing packing sequence length / truncation
      // cutoffs (doc_chunk, pack_sequences): bucket = floor(log2 n) via
      // integer bit-length (length(bin(n))-1 — the text_perplexity
      // discipline; no libm log), so bucket 5 = 32-63 tokens. Pure map
      // work + ONE bounded agg (≤64 buckets ever exist); min/max/sum
      // per bucket are order-independent exact integers.
      fanout(documents(s, d))
        .select(size(split(lower(col("text")), " ")).cast(L).as("n"))
        .filter(col("n") >= 1)
        .select(col("n"), (length(expr("bin(n)")) - 1).cast(L).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), min(col("n")).as("min_tokens"),
          max(col("n")).as("max_tokens"), sum(col("n")).as("sum_tokens"))
        .orderBy("bucket")
    }),

    "text_quality_clf" -> ((s, d) => {
      // MODEL-based quality filtering — the stage after the heuristic
      // batteries (quality_gopher / quality_ccnet_bucket) in a modern
      // pretraining pipeline (the DCLM / FineWeb recipe: a learned
      // classifier scores every document, a threshold decides keep): a
      // hashed LINEAR classifier in the fasttext shape — score = mean
      // over tokens of a hashed weight — with deterministic md5-derived
      // integer weights standing in for trained ones. The Spark-side
      // plumbing is the real pipeline (hash → weight as codegen
      // arithmetic, one explode + one keyed partial agg, threshold at
      // zero); swapping in trained weights is a broadcast map lookup in
      // the same plan. Exactness: w(t) = h60(t) % 2001 − 1000 ∈
      // [−1000, 1000] (h60 ≥ 0, so % agrees in both engines), w_sum is
      // an exact BIGINT, keep = w_sum > 0, and the 4-dp score
      // w_sum/(1000·n) goes through the SIGNED ratio4 form (sign
      // decomposition — Spark div truncates, DuckDB // floors). Docs
      // with no tokens have no rows post-explode and are absent in both
      // engines. One shuffle at 100 TB; weights never leave the
      // expression.
      toks(s, d)
        .select(col("doc_id"), explode(col("t")).as("tok"))
        .select(col("doc_id"),
          expr(s"${h60Spark("tok")} % 2001 - 1000").as("wt"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum(col("wt")).as("w_sum"))
        .select(col("doc_id"), col("n_tokens"), col("w_sum"),
          (col("w_sum") > 0).as("keep"),
          expr("IF(w_sum >= 0, 1.0D, -1.0D) * " +
            "(CAST((2 * abs(w_sum) * 10000 + 1000 * n_tokens) " +
            "div (2000 * n_tokens) AS DOUBLE) / 10000.0) + 0.0").as("score"))
        .orderBy("doc_id")
    }),

    "text_quality" -> ((s, d) => {
      val t = toks(s, d)
      val n = size(col("t"))
      t.select(col("doc_id"),
          n.cast(L).as("n_tokens"),
          ratio4("aggregate(t, 0, (a, x) -> a + length(x))", "size(t)")
            .as("avg_word_len"),
          ratio4("size(filter(t, x -> x = 'a' OR x = 'the'))", "size(t)")
            .as("stopword_ratio"),
          ratio4("size(array_distinct(t))", "size(t)").as("type_token_ratio"))
        .orderBy("doc_id")
    }),

    "quality_gopher" -> ((s, d) => {
      // the Gopher rule battery (Rae et al. §A1.1) as per-rule flags +
      // the composite keep decision — a training pipeline wants the
      // BREAKDOWN (which rule fired) for filter auditing, not just the
      // verdict. Every predicate is INTEGER arithmetic (sum-of-lengths
      // bounds instead of mean-length doubles: 3n ≤ Σlen ≤ 10n;
      // 5·distinct ≥ n for the type-token floor; stopword count ≥ 2) so
      // cross-engine agreement is structural, not rounding-dependent.
      // Thresholds are fixture-scaled versions of the paper's (which
      // assume web pages, not 30-word synthetic docs). Pure map work —
      // zero shuffles beyond the presentation sort.
      val t = toks(s, d)
      val n = size(col("t")).cast(L)
      val Seq(okCount, okWordLen, okStopwords, okTtr) = gopherChecks
      t.select(col("doc_id"), n.as("n_tokens"),
          okCount.as("ok_count"),
          okWordLen.as("ok_word_len"),
          okStopwords.as("ok_stopwords"),
          okTtr.as("ok_ttr"))
        .withColumn("keep",
          col("ok_count") && col("ok_word_len") && col("ok_stopwords") && col("ok_ttr"))
        .orderBy("doc_id")
    }),

    "crawl_domain_stats" -> ((s, d) => {
      // the domain-level curation table every crawl pipeline maintains:
      // per source (standing in for the registrable domain of a crawl
      // URL), volume, language spread, and the Gopher keep rate — the
      // evidence a domain-allowlist/blocklist decision is made on (cf.
      // filter_blocklist, which CONSUMES such a list; this PRODUCES it).
      // The keep predicate is gopherChecks — single-sourced with
      // quality_gopher, so the audit and the per-doc filter can never
      // disagree about what "keep" means. Plan: map-side tokenize +
      // flags, then ONE partial-aggregated groupBy(source) — shuffle
      // volume is |domains| (millions at 100 TB, each a few counters),
      // never |docs|. avg/rate divisions are DOUBLE over exact integer
      // sums (≪ 2^53), so the 4dp rounding is cross-engine stable.
      val keep = gopherChecks.reduce(_ && _)
      fanout(documents(s, d))
        .select(col("source"), col("lang"), col("n_chars"),
          split(lower(col("text")), " ").as("t"))
        .select(col("source"), col("lang"), col("n_chars"), keep.as("keep"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("sum_chars"))
        .withColumn("keep_rate", ratio4("n_keep", "n_docs"))
        .withColumn("avg_chars", ratio4("sum_chars", "n_docs"))
        .orderBy("source")
    }),

    "eval_coverage" -> ((s, d) => {
      // memorization / leakage audit from the EVAL side — the complement
      // of corpus_decontam (which flags train docs): for each held-out
      // doc, what fraction of its shingles the training corpus already
      // contains. High coverage = the benchmark is effectively in-corpus
      // and its score is untrustworthy. Same eval-slice definition and
      // hashed-shingle machinery as corpus_decontam (single-sourced, so
      // the two audits can never disagree about what "eval" means).
      // Plan: train shingles are DISTINCT hashed longs, semi-joined
      // shingle-keyed onto the (tiny) eval shingle set — one keyed
      // shuffle, linear in corpus; coverage ratio in exact fixed-point.
      val sh = hashedShingles(s, d)
      val isEval = col("doc_id") % 100 === 0 && col("doc_id") < 2000
      val trainSh = sh.filter(!isEval).select("sh").distinct()
        .withColumn("in_train", lit(true))
        .hint("merge") // training shingles = the corpus side — never broadcast
      sh.filter(isEval)
        .join(trainSh, Seq("sh"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast(L).as("n_shingles"),
          sum(when(col("in_train"), 1L).otherwise(0L)).as("n_covered"))
        .withColumn("cov_fp", expr("(n_covered * 10000) div n_shingles"))
        .orderBy("doc_id")
    }),

    "text_token_count" -> ((s, d) => {
      // token counting both ways (driver contract): whitespace tokens and a
      // BPE-ish regex segmentation (letter runs | digit runs | single
      // punctuation) — the pattern subset behaves identically in Java
      // regex (Spark) and RE2 (DuckDB)
      val bpe = expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
      documents(s, d).select(
          col("doc_id"),
          size(split(lower(col("text")), " ")).cast(L).as("n_ws_tokens"),
          size(bpe).cast(L).as("n_bpe_tokens"),
          size(array_distinct(bpe)).cast(L).as("n_distinct_bpe"))
        .orderBy("doc_id")
    }),

    "text_fingerprint" -> ((s, d) =>
      // position-weighted rolling fingerprint (order-sensitive, exact
      // BIGINT arithmetic → oracle-identical) + normalized-content md5
      // md5 rides the SAME row stream (no doc_id join): a dup-pk corpus
      // would fan a join while the oracle group-collapsed — grouping by
      // (doc_id, content_md5) keeps one row per doc in both engines
      fanout(documents(s, d))
        .select(col("doc_id"), split(lower(col("text")), " ").as("t"),
          md5(concat_ws(" ", split(lower(col("text")), " "))).as("content_md5"))
        .select(col("doc_id"), col("content_md5"), posexplode(col("t")))
        .groupBy("doc_id", "content_md5")
        .agg(sum((col("pos") + 1) *
          (ascii(col("col")) + lit(7) * length(col("col")) + 13)).as("fp"))
        .select("doc_id", "fp", "content_md5")
        .orderBy("doc_id", "content_md5")),

    "mix_epochs" -> ((s, d) => {
      // data-constrained epoch allocation (Muennighoff et al. 2023): when
      // the token budget exceeds a source's size, REPEAT the source — up
      // to 4 epochs, past which repeated data stops buying loss (the
      // paper's R* ≈ 4 finding) — rather than over-sampling a bigger
      // source. Budget share per source = 3× corpus tokens / n_sources
      // (uniform target); epochs = min(4, ⌈target / n_tok⌉); allocated
      // tokens = min(target, epochs·n_tok). EXACT integer arithmetic
      // end-to-end (ceil as (t + n - 1) div n) — no float ratios near
      // the gate, reproducible on any cluster shape. Plan: one per-doc
      // map for token counts, one source-keyed partial agg (20 groups),
      // the 1-row total broadcast back — the corpus is scanned once and
      // never shuffled (the agg moves 20 rows/partition).
      val tok = documents(s, d).select(col("source"),
        size(split(lower(col("text")), " ")).cast(L).as("n"))
      val counts = tok.groupBy("source").agg(sum(col("n")).as("n_tok"))
      val totals = counts.agg(sum(col("n_tok")).as("total"),
        count(lit(1)).as("n_src"))
      counts.crossJoin(broadcast(totals))
        .withColumn("target", expr("(total * 3) div n_src"))
        .withColumn("epochs", expr("least(4L, (target + n_tok - 1) div n_tok)"))
        .withColumn("alloc_tok", expr("least(target, epochs * n_tok)"))
        .select("source", "n_tok", "target", "epochs", "alloc_tok")
        .orderBy("source")
    }),

    "filter_blocklist" -> ((s, d) => {
      // domain-blocklist filtering — the crawl-hygiene gate upstream of
      // every content filter: each doc's origin URL is synthesized from
      // fixture columns (so both engines see the SAME strings), the host
      // comes out of the codegen'd parse_url expression, and docs whose
      // host is listed are dropped. The blocklist is a FIXED curated
      // table (spam/adult/SEO domains — corpus-INDEPENDENT, KBs not TBs),
      // so it broadcasts and the corpus is filtered map-side inside its
      // own scan: a broadcast left-anti join, zero corpus-row shuffles —
      // the shape is unchanged at 100 TB. Survivors keep their host so
      // downstream per-domain stats need no re-parse.
      import s.implicits._
      val urls = documents(s, d).select(col("doc_id"),
          concat(lit("https://"), col("source"), lit(".example.com/doc/"),
            col("doc_id")).as("url"))
        // try_: ANSI parse_url throws on an invalid URI (space in the
        // authority — one dirty crawl URL must not kill the job); NULL
        // host (unparseable OR non-ASCII authority, where java.net.URI
        // yields no server-based host) passes the blocklist gate below
        .withColumn("host", expr("try_parse_url(url, 'HOST')"))
      val block = Seq("src3.example.com", "src7.example.com",
        "src11.example.com", "src15.example.com").toDF("host")
      urls.join(broadcast(block), Seq("host"), "left_anti")
        .select("doc_id", "host")
        .orderBy("doc_id")
    }),

    "text_normalize" -> ((s, d) => {
      // text canonicalization — the FIRST pass of every ingest pipeline
      // (before any dedup/hash sees the bytes): case-fold, fold common
      // Latin-1 accents (translate — one table lookup per char, no regex
      // backtracking), strip non-alphanumerics, collapse runs of spaces,
      // trim. Emits the audit columns a cleaning stage is judged by: raw
      // vs normalized length and the canonical md5 (the key exact dedup
      // would then group on). Pure map work, whole-stage codegen'd, zero
      // shuffles — at 100 TB this pass is I/O-bound, exactly as it should
      // be. Both regexes are replace-ALL on both engines (DuckDB needs
      // the explicit 'g' flag — its default is replace-first).
      val folded = translate(lower(col("text")),
        "àáâäèéêëìíîïòóôöùúûüñç",
        "aaaaeeeeiiiioooouuuunc")
      val norm = trim(regexp_replace(
        regexp_replace(folded, "[^a-z0-9 ]", ""), " +", " "))
      documents(s, d).select(
          col("doc_id"),
          length(col("text")).cast(L).as("raw_len"),
          length(norm).cast(L).as("norm_len"),
          md5(norm).as("norm_md5"))
        .orderBy("doc_id")
    }),

    "doc_chunk" -> ((s, d) => {
      // fixed-window token chunking with overlap (chunk=32, stride=24 →
      // 8-token overlap) — how long documents become training sequences /
      // retrieval units. Start offsets come from an index-sequence explode
      // (bounded: ⌈n/stride⌉ chunks per doc, ≤5 at fixture token counts);
      // the chunk itself is an in-row slice + concat (codegen'd — no HOF
      // lambda, same lesson as shingleRows). Emits per chunk: token
      // count and the chunk md5 (what downstream chunk-level dedup keys
      // on). Pure map + bounded explode, zero shuffles beyond the
      // presentation sort; at 100 TB output rows ∝ input tokens/stride.
      toks(s, d)
        .select(col("doc_id"), col("t"),
          explode(expr("sequence(0, (size(t)-1) div 24)")).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id").cast(L).as("chunk_id"),
          expr("slice(t, chunk_id * 24 + 1, 32)").as("c"))
        .select(col("doc_id"), col("chunk_id"),
          size(col("c")).cast(L).as("n_tok"),
          md5(concat_ws(" ", col("c"))).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    }),

    "vocab_oov" -> ((s, d) => {
      // vocabulary-coverage / OOV-rate audit — given a bounded vocabulary
      // (here: the corpus top-20 tokens by frequency, count-desc then
      // token-asc so the cutoff is deterministic in both engines), score
      // each document by how much of its token mass falls outside it.
      // The tokenizer-fit signal every corpus report carries (high OOV =
      // wrong tokenizer or wrong-language contamination). Plan: the vocab
      // is top-k of a token-keyed partial agg (TakeOrderedAndProject — k
      // rows reach the driver), then BROADCAST: per-doc scoring is one
      // map-side probe + one doc-keyed agg. The corpus never shuffles by
      // token for scoring; vocab size — not corpus size — bounds the
      // broadcast, so the shape is unchanged at 100 TB. OOV rate in exact
      // basis points (BIGINT div) — no float ratios near the gate.
      val tok = toks(s, d).select(col("doc_id"), explode(col("t")).as("token"))
      val vocab = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc_nulls_last, col("token"))
        .limit(20)
        .select(col("token"), lit(true).as("in_vocab"))
      tok.join(broadcast(vocab), Seq("token"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast(L).as("n_tok"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_bp", expr("(n_oov * 10000) div n_tok"))
        .orderBy("doc_id")
    }),

    "tok_fertility" -> ((s, d) => {
      // tokenizer fertility by language — tokens emitted per whitespace
      // word (Ács 2019; the multilingual-tokenizer health metric: a BPE
      // trained on English typically fragments other scripts, and a
      // fertility spike per lang flags the vocab before a training run
      // wastes sequence length). Both token counts are single-pass map
      // work (the text_token_count definitions, single-sourced by the
      // driver gate); ONE lang-keyed partial agg — 5 groups, map-side
      // combinable, shuffle volume |langs| at any corpus size. Fertility
      // is a double quotient of exact int64 sums — bit-identical
      // cross-engine.
      val bpe = expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
      fanout(documents(s, d))
        .select(col("lang"),
          size(split(lower(col("text")), " ")).cast(L).as("ws"),
          size(bpe).cast(L).as("bpe"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).as("n_words"),
          sum(col("bpe")).as("n_tokens"))
        .withColumn("fertility", ratio4("n_tokens", "n_words"))
        .orderBy("lang")
    }),

    "mix_domain_cap" -> ((s, d) => {
      // per-domain document cap — the source-diversity guard every
      // curated mix applies (a crawl where one domain contributes 40% of
      // documents trains a model on that domain's boilerplate; C4 caps
      // URLs, The Pile caps per-set epochs — this caps docs per source).
      // Keep priority is deterministic: longest docs first, doc_id
      // tie-break. Plan: ONE source-keyed window (row_number) — the
      // partition key is the domain, high-cardinality at crawl scale, so
      // the sort parallelizes — then a source-keyed partial agg; nothing
      // global anywhere. Kept/dropped counts per source are the audit a
      // mix report publishes.
      val cap = 20
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id"))
      fanout(documents(s, d))
        .withColumn("rn", row_number().over(w))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rn") <= cap, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("rn") > cap, 1L).otherwise(0L)).as("n_dropped"),
          min(when(col("rn") <= cap, col("n_chars"))).as("min_kept_chars"))
        .orderBy("source")
    }),

    "vocab_coverage" -> ((s, d) => {
      // vocabulary coverage curve — what share of all token OCCURRENCES
      // the top-k vocabulary types cover, for k ∈ {10, 20, 30} (the
      // truncation decision a tokenizer build makes: coverage .999 at
      // k=32000 is why that's the classic vocab size; tok_zipf fits the
      // law, this reads the integral). Plan: one token-keyed partial agg
      // (Heaps-bounded vocab counts), rank over the VOCAB table (never
      // rows) via one bounded window, then a single conditional-sum
      // fold — robust to vocab < k (coverage saturates at 1.0). Output
      // is ONE row; all shares are double quotients of exact int64s.
      val wc = toks(s, d).select(explode(col("t")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c"))
      val tot = wc.agg(count(lit(1)).as("n_vocab"), sum(col("c")).as("n_tokens"))
      // top-30 head via TakeOrderedAndProject (per-partition heaps, 30
      // rows to the driver side of the exchange — never a vocab-wide
      // sort); the rank window runs post-limit over 30 rows (the
      // tok_zipf / dedup_embed bounded-window discipline)
      val head = wc.orderBy(col("c").desc_nulls_last, col("word")).limit(30)
        .withColumn("rnk",
          row_number().over(Window.orderBy(col("c").desc, col("word"))).cast(L))
      val d2 = (c: Column) => c.cast(DoubleType)
      head.agg(
          sum(when(col("rnk") <= 10, col("c")).otherwise(0L)).as("c10"),
          sum(when(col("rnk") <= 20, col("c")).otherwise(0L)).as("c20"),
          sum(when(col("rnk") <= 30, col("c")).otherwise(0L)).as("c30"))
        .crossJoin(broadcast(tot))
        .select(col("n_vocab"), col("n_tokens"),
          ratio4("c10", "n_tokens").as("cov10"),
          ratio4("c20", "n_tokens").as("cov20"),
          ratio4("c30", "n_tokens").as("cov30"))
    }),

    "corpus_datacard" -> ((s, d) => {
      // the data card — the per-(source, language) manifest a training
      // run publishes (The Pile / Dolma style): raw docs, docs surviving
      // exact-dedup (first copy by content hash) AND the Gopher quality
      // battery, kept tokens, and each cell's share of the final token
      // budget in exact basis points. Keep logic is single-sourced with
      // dedup_exact (md5 content hash) and quality_gopher (gopherChecks)
      // so the manifest can never disagree with the pipeline stages it
      // summarizes. Plan: one hash-keyed window (first-copy rank —
      // maximal-cardinality key), one (source, lang) partial agg, a
      // 1-row token total broadcast back. No fact re-scan anywhere.
      val w = Window.partitionBy("hash").orderBy("doc_id")
      val keepQ = gopherChecks.reduce(_ && _)
      val flagged = fanout(documents(s, d))
        .select(col("doc_id"), col("source"), col("lang"),
          split(lower(col("text")), " ").as("t"),
          md5(lower(trim(col("text")))).as("hash"))
        .withColumn("rn", row_number().over(w))
        .withColumn("keep", col("rn") === 1 && keepQ)
        .withColumn("n_tok", size(col("t")).cast(L))
      val cell = flagged.groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs_raw"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_docs_kept"),
          sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("n_tokens_kept"))
      val tot = cell.agg(sum(col("n_tokens_kept")).as("tt"))
      cell.crossJoin(broadcast(tot))
        // CASE guard: zero kept tokens → NULL share (DuckDB's x // 0)
        .withColumn("token_share_bp",
          expr("CASE WHEN tt > 0 THEN (n_tokens_kept * 10000) div tt END"))
        .select("source", "lang", "n_docs_raw", "n_docs_kept",
          "n_tokens_kept", "token_share_bp")
        .orderBy("source", "lang")
    }),

    "tok_vocab_growth" -> ((s, d) => {
      // Heaps'-law vocabulary growth: distinct token types at 25% / 50% /
      // 100% corpus prefixes (deterministic doc_id order), plus the
      // fitted exponent β (V ∝ N^β, natural text β ≈ 0.4-0.6) — how a
      // tokenizer build decides whether vocab has saturated or the
      // corpus needs more data. ONE scan: the three prefix vocabularies
      // share one group-by-token aggregate (two-level distinct, below);
      // β comes from the two largest prefixes' log-ratio. Token totals
      // are exact int64s; β is one double expression over them.
      // the value-prefix cut (doc_id*4 <= mx) equals a 25% RANK prefix
      // only when ids are dense from zero — true of the fixture contract
      // (verified min=0, max=n-1 at every sf) and ENFORCED in-plan below:
      // a sparse or offset id space raises instead of silently labeling
      // the wrong corpus fraction (both engines would agree, so only this
      // guard can catch the semantic drift)
      val maxId = documents(s, d).agg(max(col("doc_id")).as("mx"),
        min(col("doc_id")).as("mn"), count(lit(1)).as("nd"))
      val tok = toks(s, d).select(col("doc_id"), explode(col("t")).as("token"))
        .crossJoin(broadcast(maxId))
      val d2 = (c: Column) => c.cast(DoubleType)
      // two-level distinct (round 18): the three conditional
      // countDistincts over one stream planned a 4-projection Expand —
      // ≈3 copies of the distinct-token stream through the exchange plus
      // a 4× in-row expansion before the map-side dedup. Grouping by
      // token FIRST shuffles each distinct token once with per-prefix
      // occurrence counts; a prefix vocabulary is then the count of
      // tokens whose prefix count is positive, and the token totals roll
      // up as the same exact longs. count(when(...)) reproduces
      // countDistinct's 0 on an empty corpus (sum would be NULL);
      // n_tok_100 needs the explicit coalesce for the same reason.
      val perTok = tok.groupBy(col("token")).agg(
        sum(when(col("doc_id") * 4 <= col("mx"), 1L).otherwise(0L)).as("c25"),
        sum(when(col("doc_id") * 2 <= col("mx"), 1L).otherwise(0L)).as("c50"),
        count(lit(1)).as("c100"),
        max(col("mx")).as("mx1"), max(col("mn")).as("mn1"),
        max(col("nd")).as("nd1"))
      val sparseIds =
        max(col("mn1")) =!= 0L || max(col("mx1")) + lit(1L) =!= max(col("nd1"))
      perTok.agg(
          sum(col("c25")).as("n_tok_25"),
          sum(col("c50")).as("n_tok_50"),
          coalesce(sum(col("c100")), lit(0L)).as("n_tok_100"),
          count(when(col("c25") > 0, col("token"))).as("v_25"),
          count(when(col("c50") > 0, col("token"))).as("v_50"),
          count(col("token")).as("v_100"),
          sparseIds.as("_sparse"))
        .select(col("n_tok_25"), col("n_tok_50"), col("n_tok_100"),
          col("v_25"), col("v_50"), col("v_100"),
          when(col("_sparse"), raise_error(lit(
              "tok_vocab_growth: doc_ids not dense-from-zero — the " +
              "value-prefix cut would mislabel the corpus fraction"))
            .cast(DoubleType))
          // try_divide: a corpus whose 50% and 100% prefixes coincide
          // (one doc) has log-ratio 0/0 — NULL β, not an ANSI error
          .otherwise(r4(try_divide(log(d2(col("v_100")) / d2(col("v_50"))),
            log(d2(col("n_tok_100")) / d2(col("n_tok_50")))))).as("heaps_beta"))
    }),

    "dedup_rate_curve" -> ((s, d) => {
      // duplication rate vs corpus growth — does doubling the crawl
      // double the NEW content, or mostly re-fetch what you have? Exact
      // content-hash duplicates at the same 25/50/100% prefixes (one
      // row per prefix: docs, distinct hashes, dup rate in exact basis
      // points). The inflection where dup_bp climbs is where further
      // crawling stops paying. ONE scan, the prefix distincts shared by
      // one group-by-hash aggregate (two-level distinct, below); md5
      // keys shuffle as the dedup_exact family does.
      // same dense-from-zero id precondition (and in-plan guard) as
      // tok_vocab_growth — the two prefix definitions are deliberately
      // identical so the curves are over the SAME corpus fractions
      val maxId = documents(s, d).agg(max(col("doc_id")).as("mx"),
        min(col("doc_id")).as("mn"), count(lit(1)).as("nd"))
      val h = fanout(documents(s, d))
        .select(col("doc_id"), md5(lower(trim(col("text")))).as("hash"))
        .crossJoin(broadcast(maxId))
      // two-level distinct (round 18) — the tok_vocab_growth rewrite
      // applied to the hash stream. A NULL hash (null text) forms its own
      // group: the d-totals roll it up like any other rows, and
      // count(col/when) skips the NULL group key exactly as countDistinct
      // skipped the NULL hash; count also reproduces countDistinct's 0 on
      // the empty corpus, where the d25/d50 sums stay NULL as before and
      // d100 needs the explicit coalesce.
      val perHash = h.groupBy(col("hash")).agg(
        sum(when(col("doc_id") * 4 <= col("mx"), 1L).otherwise(0L)).as("c25"),
        sum(when(col("doc_id") * 2 <= col("mx"), 1L).otherwise(0L)).as("c50"),
        count(lit(1)).as("c100"),
        max(col("mx")).as("mx1"), max(col("mn")).as("mn1"),
        max(col("nd")).as("nd1"))
      val one = perHash.agg(
        sum(col("c25")).as("d25"),
        sum(col("c50")).as("d50"),
        coalesce(sum(col("c100")), lit(0L)).as("d100"),
        count(when(col("c25") > 0, col("hash"))).as("u25"),
        count(when(col("c50") > 0, col("hash"))).as("u50"),
        count(col("hash")).as("u100"),
        (max(col("mn1")) =!= 0L || max(col("mx1")) + lit(1L) =!= max(col("nd1")))
          .as("_sparse"))
      val rows = Seq(("a_25", "d25", "u25"), ("b_50", "d50", "u50"),
        ("c_100", "d100", "u100")).map { case (lbl, dn, un) =>
        struct(lit(lbl).as("prefix"),
          (if (lbl == "a_25")
             when(col("_sparse"), raise_error(lit(
                 "dedup_rate_curve: doc_ids not dense-from-zero — the " +
                 "value-prefix cut would mislabel the corpus fraction"))
               .cast("bigint")).otherwise(col(dn))
           else col(dn)).as("n_docs"),
          col(un).as("n_unique"),
          // CASE guard: an empty prefix's dup rate is NULL (DuckDB's
          // x // 0) — ANSI's div would error on the empty corpus
          expr(s"CASE WHEN $dn > 0 THEN (($dn - $un) * 10000) div $dn END")
            .as("dup_bp"))
      }
      one.select(explode(array(rows: _*)).as("p")).select("p.*")
        .orderBy("prefix")
    }),

    "text_keyterms" -> ((s, d) => {
      // top-3 characteristic terms per document by TF-IDF — the
      // "what is this doc about" extractive summary (and the per-doc
      // view of text_tfidf's corpus-wide table; the scoring pipeline is
      // the same tf/df/n joins, single-sourced with its oracle). The
      // rank key is the 6dp-ROUNDED score with a token tie-break (the
      // rankKey discipline: double scores from ln() can differ by an
      // ulp across engines; ranking on the rounded value with a total
      // tie-break makes the selection stable). The window partitions by
      // doc_id — maximal-cardinality key, plans WindowGroupLimit — so
      // top-3 state per doc is O(3) on both sides of the exchange.
      val tok = fanout(documents(s, d))
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      // df from tf rollup is a NO-OP here — see the text_tfidf note
      // (Catalyst prunes to the identical physical plan).
      val dfq = tok.select("doc_id", "token").distinct()
        .groupBy("token").agg(count(lit(1)).as("df"))
      val n = documents(s, d).agg(count(lit(1)).as("n_docs"))
      // rank on the 6dp-ROUNDED score, but emit r4 of the RAW score:
      // rounding twice (6 then 4) manufactures exact .xxxx50 half-way
      // points at 4dp, where Spark's round (BigDecimal re-parse of the
      // shortest decimal) and DuckDB's (binary-double) disagree —
      // observed at sf0.1 (2.3075 vs 2.3074 on round4(2.30745)). A
      // single round of the raw double is the proven text_tfidf path.
      val scored = tf.join(dfq, "token").crossJoin(broadcast(n))
        .withColumn("score",
          col("tf") * log((col("n_docs") + 1).cast(DoubleType) / (col("df") + 1)))
      val w = Window.partitionBy("doc_id")
        .orderBy(round(col("score"), 6).desc, col("token"))
      scored.withColumn("rn", row_number().over(w).cast(L))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("rn"), col("token"), r4(col("score")).as("tfidf"))
        .orderBy("doc_id", "rn")
    })
  )

  /** MinHash band-signature CTE chain (DuckDB), shared by the
    * dedup_minhash and dedup_cluster oracles so the candidate definition
    * cannot drift between them.
    */
  /** Hashed-shingle CTE chain (DuckDB) — the oracle twin of
    * `hashedShingles`, shared by the dedup_near / sim_containment /
    * corpus_decontam oracles so the shingle+hash definition cannot drift.
    * DISTINCT is applied on the HASH, mirroring the Spark side's
    * hash-then-distinct: a within-doc 60-bit collision must collapse to
    * one row in both engines or sizes/df drift.
    */
  private val shingleCtes: String =
    s"""toks AS (
           SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
           WHERE len(string_split(lower(text), ' ')) >= 3),
         shs AS (
           SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
           FROM (SELECT doc_id, t, unnest(range(1, len(t)-1)) AS i FROM toks)),
         sh AS (
           SELECT DISTINCT doc_id, ${h60Duck("shingle")} AS sh FROM shs)"""

  /** Rare-shingle candidate + exact-intersection CTE chain (DuckDB) — the
    * oracle twin of `shinglePairStats`, shared by dedup_near and
    * sim_containment. Exposes `inter (a, b, i)` and `sizes (doc_id, n)`.
    */
  private val shinglePairCtes: String =
    s"""$shingleCtes,
         dfreq AS (SELECT sh, count(*) AS n_df FROM sh GROUP BY 1),
         rare AS (SELECT s.doc_id, s.sh FROM sh s
                  JOIN dfreq f ON s.sh = f.sh WHERE f.n_df BETWEEN 2 AND 20),
         cand AS (SELECT a, b FROM (
                    SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
                    FROM rare x JOIN rare y ON x.sh = y.sh AND x.doc_id < y.doc_id
                    GROUP BY 1, 2)
                  WHERE n_shared >= 2),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (
           SELECT c.a, c.b, count(*) AS i
           FROM cand c
           JOIN sh xa ON xa.doc_id = c.a
           JOIN sh xb ON xb.doc_id = c.b AND xb.sh = xa.sh
           GROUP BY 1, 2)"""

  private[operators] val mhBandCtes: String =
    s"""toks AS (
           SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
           WHERE len(string_split(lower(text), ' ')) >= 3),
         sh AS (
           SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
           FROM (SELECT doc_id, t, unnest(range(1, len(t)-1)) AS i FROM toks)),
         mh AS (
           SELECT doc_id, seed,
             min(${h60Duck("concat(CAST(seed AS VARCHAR), ':', shingle)")}) AS mh
           FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS seed) seeds
           GROUP BY 1, 2),
         bands0 AS (
           SELECT doc_id, CAST(seed // 2 AS INT) AS band,
             array_to_string(list_sort(list(mh)), ',') AS sig
           FROM mh GROUP BY 1, 2),
         bcap AS (
           SELECT band, sig FROM bands0 GROUP BY band, sig
           HAVING count(*) BETWEEN 2 AND 20),
         bands AS (
           SELECT b.doc_id, b.band, b.sig
           FROM bands0 b JOIN bcap USING (band, sig))"""

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS content_hash, min(doc_id) AS keep_id,
         count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY content_hash NULLS FIRST""",
    "dedup_url" ->
      s"""WITH raw AS (
           SELECT CASE CAST(o_orderkey % 4 AS INTEGER)
             WHEN 0 THEN 'https://' || base
             WHEN 1 THEN 'http://www.' || base || '/'
             WHEN 2 THEN 'https://' || base || '?utm_source=feed&utm_id=' || CAST(o_orderkey AS VARCHAR)
             ELSE 'HTTPS://WWW.' || upper(base) || '#top' END AS url
           FROM (SELECT o_orderkey, o_custkey,
                   'shop-' || CAST(o_custkey % 50 AS VARCHAR) || '.example.com/p/' ||
                   CAST(o_orderkey % 500 AS VARCHAR) AS base
                 FROM orders)),
         canon AS (
           SELECT regexp_replace(regexp_replace(regexp_replace(
                    lower(url), '[#?].*${"$"}', ''),
                    '^https?://(www\\.)?', 'https://'), '/${"$"}', '') AS canon_url,
                  url
           FROM raw)
         SELECT canon_url, count(*) AS n_pages,
           count(DISTINCT url) AS n_variants
         FROM canon GROUP BY 1 ORDER BY canon_url NULLS FIRST""",
    "dedup_near" ->
      s"""WITH $shinglePairCtes
         SELECT a, b, round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
         FROM inter JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
         WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
         ORDER BY a NULLS FIRST, b NULLS FIRST""",
    "sim_containment" ->
      s"""WITH $shinglePairCtes
         SELECT a, b,
           round(CAST(i AS DOUBLE) / least(sa.n, sb.n), 4) AS containment,
           round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
         FROM inter JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
         WHERE CAST(i AS DOUBLE) / least(sa.n, sb.n) >= 0.8
         ORDER BY a NULLS FIRST, b NULLS FIRST""",
    "quality_gopher" ->
      """SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         len(t) BETWEEN 20 AND 10000 AS ok_count,
         list_sum(list_transform(t, x -> length(x)))
           BETWEEN len(t) * 3 AND len(t) * 10 AS ok_word_len,
         len(list_filter(t, x -> x IN ('the', 'a', 'of', 'to', 'and'))) >= 2
           AS ok_stopwords,
         len(list_distinct(t)) * 5 >= len(t) AS ok_ttr,
         (len(t) BETWEEN 20 AND 10000
           AND list_sum(list_transform(t, x -> length(x)))
                 BETWEEN len(t) * 3 AND len(t) * 10
           AND len(list_filter(t, x -> x IN ('the', 'a', 'of', 'to', 'and'))) >= 2
           AND len(list_distinct(t)) * 5 >= len(t)) AS keep
         FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
         ORDER BY doc_id NULLS FIRST""",
    "eval_coverage" ->
      s"""WITH $shingleCtes,
         ev AS (SELECT doc_id, sh FROM sh
                WHERE doc_id % 100 = 0 AND doc_id < 2000),
         tr AS (SELECT DISTINCT sh FROM sh
                WHERE NOT (doc_id % 100 = 0 AND doc_id < 2000))
         SELECT ev.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(tr.sh) AS BIGINT) AS n_covered,
           CAST(count(tr.sh) * 10000 // count(*) AS BIGINT) AS cov_fp
         FROM ev LEFT JOIN tr ON ev.sh = tr.sh
         GROUP BY 1 ORDER BY doc_id NULLS FIRST""",
    "corpus_decontam" ->
      s"""WITH $shingleCtes,
         ev AS (SELECT sh, doc_id AS eval_id FROM sh
                WHERE doc_id % 100 = 0 AND doc_id < 2000),
         tr AS (SELECT doc_id, sh FROM sh
                WHERE NOT (doc_id % 100 = 0 AND doc_id < 2000))
         SELECT tr.doc_id,
           count(DISTINCT tr.sh) AS n_hit_shingles,
           count(DISTINCT ev.eval_id) AS n_eval_docs
         FROM tr JOIN ev ON tr.sh = ev.sh
         GROUP BY 1 ORDER BY doc_id NULLS FIRST""",
    "sim_minhash_est" ->
      s"""WITH $mhBandCtes,
         pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                   FROM bands x JOIN bands y
                     ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
         sigs AS (SELECT doc_id, list(mh ORDER BY seed NULLS FIRST) AS sig FROM mh GROUP BY 1),
         hsh AS (SELECT DISTINCT doc_id, ${h60Duck("shingle")} AS hs FROM sh),
         hsets AS (SELECT doc_id, list(hs ORDER BY hs NULLS FIRST) AS st, count(*) AS n
                   FROM hsh GROUP BY 1),
         j AS (SELECT p.a, p.b,
                 len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) AS n_match,
                 len(list_intersect(ha.st, hb.st)) AS i, ha.n AS na, hb.n AS nb
               FROM pairs p
               JOIN sigs sa ON sa.doc_id = p.a JOIN sigs sb ON sb.doc_id = p.b
               JOIN hsets ha ON ha.doc_id = p.a JOIN hsets hb ON hb.doc_id = p.b)
         SELECT a, b, CAST(n_match AS BIGINT) AS n_match,
           CAST(n_match * 10000 // 16 AS BIGINT) AS est_fp,
           CAST(i * 10000 // (na + nb - i) AS BIGINT) AS jacc_fp
         FROM j ORDER BY a NULLS FIRST, b NULLS FIRST""",
    "dedup_minhash" ->
      // same md5-derived 60-bit hash family as the Spark side
      s"""WITH $mhBandCtes
         SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.band AS band
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
         ORDER BY a NULLS FIRST, b NULLS FIRST, band NULLS FIRST""",
    "dedup_cluster" ->
      // identical band-join candidates, then the transitive closure as a
      // recursive CTE: reach(v, r) = all ids r reachable from v over the
      // undirected pair graph; cluster_id = min reachable id
      s"""WITH RECURSIVE $mhBandCtes,
         pairs AS (
           SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM bands x JOIN bands y
             ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
         edges AS (SELECT a AS s, b AS t FROM pairs
                   UNION SELECT b AS s, a AS t FROM pairs),
         reach AS (
           SELECT DISTINCT s AS v, s AS r FROM edges
           UNION
           SELECT q.v, e.t FROM reach q JOIN edges e ON e.s = q.r),
         comp AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
         csize AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1)
         SELECT comp.doc_id, comp.cluster_id, csize.cluster_size
         FROM comp JOIN csize USING (cluster_id)
         ORDER BY doc_id NULLS FIRST""",
    "dedup_keep_best" ->
      // same transitive closure as dedup_cluster, then the keeper as a
      // per-cluster rank window (arg-max by n_chars desc, doc_id asc —
      // the independent formulation of the Spark side's struct-max)
      s"""WITH RECURSIVE $mhBandCtes,
         pairs AS (
           SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM bands x JOIN bands y
             ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
         edges AS (SELECT a AS s, b AS t FROM pairs
                   UNION SELECT b AS s, a AS t FROM pairs),
         reach AS (
           SELECT DISTINCT s AS v, s AS r FROM edges
           UNION
           SELECT q.v, e.t FROM reach q JOIN edges e ON e.s = q.r),
         comp AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
         keeper AS (
           SELECT cluster_id, doc_id AS keeper_id FROM (
             SELECT c.cluster_id, c.doc_id,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY d.n_chars DESC NULLS LAST, c.doc_id NULLS FIRST) AS rn
             FROM comp c JOIN documents d USING (doc_id))
           WHERE rn = 1)
         SELECT c.doc_id, c.cluster_id, k.keeper_id,
           c.doc_id = k.keeper_id AS keep
         FROM comp c JOIN keeper k USING (cluster_id)
         ORDER BY doc_id NULLS FIRST""",
    "crawl_domain_stats" ->
      s"""WITH f AS (
           SELECT source, lang, n_chars, $gopherKeepDuck AS keep
           FROM (SELECT source, lang, n_chars,
                   string_split(lower(text), ' ') AS t FROM documents))
         SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           ${ratio4Duck("sum(CASE WHEN keep THEN 1 ELSE 0 END)", "count(*)")} AS keep_rate,
           ${ratio4Duck("sum(n_chars)", "count(*)")} AS avg_chars
         FROM f GROUP BY source ORDER BY source NULLS FIRST""",
    "dedup_simhash" ->
      s"""WITH tok AS (
           SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
         th AS (
           SELECT doc_id, ${h60Duck("token")} AS th FROM tok),
         w AS (
           SELECT doc_id, bit,
             sum(CASE WHEN ((th >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS w
           FROM th CROSS JOIN (SELECT unnest(range(0, 16)) AS bit) bits
           GROUP BY 1, 2)
         SELECT doc_id,
           CAST(sum(CASE WHEN w > 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS BIGINT) AS simhash16
         FROM w GROUP BY doc_id ORDER BY doc_id NULLS FIRST""",
    "dedup_ngram" ->
      s"""WITH g AS (
           SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, length(lower(text)) - 3),
                                   i -> ${h60Duck("substr(lower(text), i, 5)")})) AS gram
           FROM documents WHERE length(text) >= 5),
         dfreq AS (SELECT gram, count(*) AS n_df FROM g GROUP BY 1),
         rare AS (SELECT g.doc_id, g.gram FROM g JOIN dfreq USING (gram)
                  WHERE n_df <= (SELECT greatest(20,
                    CAST(ceil(0.28 * sqrt(count(*))) AS BIGINT)) FROM documents)),
         cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                  FROM rare x JOIN rare y ON x.gram = y.gram AND x.doc_id < y.doc_id),
         sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
         inter AS (
           SELECT c.a, c.b, count(*) AS i
           FROM cand c
           JOIN g ga ON ga.doc_id = c.a
           JOIN g gb ON gb.doc_id = c.b AND gb.gram = ga.gram
           GROUP BY 1, 2)
         SELECT a, b, round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
         FROM inter JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
         WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.7
         ORDER BY a NULLS FIRST, b NULLS FIRST""",
    "pipeline_incremental" ->
      """WITH d AS (SELECT doc_id, md5(lower(trim(text))) AS h FROM documents),
         hist AS (SELECT DISTINCT h FROM d WHERE doc_id % 10 <> 9),
         batch AS (SELECT doc_id, h,
             row_number() OVER (PARTITION BY h ORDER BY doc_id NULLS FIRST) AS rn
           FROM d WHERE doc_id % 10 = 9)
         SELECT b.doc_id,
           CASE WHEN b.h IN (SELECT h FROM hist) THEN 'dup_hist'
                WHEN b.rn > 1 THEN 'dup_batch'
                ELSE 'unique' END AS status
         FROM batch b ORDER BY b.doc_id NULLS FIRST""",
    "pipeline_corpus" ->
      s"""WITH kept AS (
           SELECT doc_id, text, n_chars,
             row_number() OVER (PARTITION BY md5(lower(trim(text))) ORDER BY doc_id NULLS FIRST) AS rn
           FROM documents
           WHERE n_chars >= 100 AND len(string_split(lower(text), ' ')) >= 10),
         dedup AS (SELECT * FROM kept WHERE rn = 1),
         assigned AS (
           SELECT doc_id, text, n_chars, ${splitCase("b")} AS split
           FROM (SELECT *, $splitBucketDuck AS b FROM dedup))
         SELECT split, count(*) AS n_docs,
           CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS total_tokens,
           ${ratio4Duck("sum(n_chars)", "count(*)")} AS avg_chars
         FROM assigned GROUP BY 1 ORDER BY split NULLS FIRST""",
    "split_assign" ->
      s"""SELECT doc_id, ${splitCase("b")} AS split
         FROM (SELECT doc_id, $splitBucketDuck AS b FROM documents)
         ORDER BY doc_id NULLS FIRST""",
    "sample_stratified" ->
      s"""SELECT doc_id, lang, source FROM (
           SELECT doc_id, lang, source,
             ${h60Duck("concat('sample:', CAST(doc_id AS VARCHAR))")} % 100 AS bucket
           FROM documents)
         WHERE bucket < CASE WHEN lang = 'en' THEN 20 ELSE 60 END
         ORDER BY doc_id NULLS FIRST""",
    "mix_quality_weighted" ->
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
         SELECT doc_id,
           CAST(CAST(len(list_distinct(t)) AS BIGINT) * 10000 // len(t) AS BIGINT)
             AS score_bp,
           ${h60Duck("concat('mixq:', CAST(doc_id AS VARCHAR))")} % 10000
             < CAST(len(list_distinct(t)) AS BIGINT) * 10000 // len(t) AS kept
         FROM t ORDER BY doc_id NULLS FIRST""",
    "sample_weighted" ->
      s"""SELECT doc_id, lang, round(weight, 4) AS weight FROM (
           SELECT doc_id, lang,
             least(CAST(1.0 AS DOUBLE), CAST(len(text) AS DOUBLE) / 400.0) AS weight,
             ${h60Duck("concat('wsample:', CAST(doc_id AS VARCHAR))")} % 1000000 AS h
           FROM documents)
         WHERE h < weight * 1000000.0
         ORDER BY doc_id NULLS FIRST""",
    "text_pii_redact" ->
      """SELECT doc_id,
         len(regexp_extract_all(text, '\b(customer|value)\b', 0)) AS n_hits,
         md5(regexp_replace(text, '\b(customer|value)\b', '<REDACTED>', 'g')) AS redacted_md5
         FROM documents ORDER BY doc_id NULLS FIRST""",
    "sample_per_group" ->
      s"""SELECT doc_id, lang, rn FROM (
           SELECT doc_id, lang,
             CAST(row_number() OVER (PARTITION BY lang
               ORDER BY ${h60Duck("concat('pergroup:', CAST(doc_id AS VARCHAR))")} NULLS FIRST,
                 doc_id NULLS FIRST) AS BIGINT) AS rn
           FROM documents)
         WHERE rn <= 25 ORDER BY doc_id NULLS FIRST""",
    "text_bigram_prob" ->
      s"""WITH $bigramCtes
         SELECT bigram, c_bi, c_w1,
           CAST((c_bi * 1000000) // c_w1 AS DOUBLE) / 1000000.0 AS p
         FROM bc JOIN cc USING (w1)
         WHERE c_w1 >= 10
         ORDER BY p DESC NULLS LAST, c_bi DESC NULLS LAST, bigram NULLS FIRST
         LIMIT 100""",
    "dedup_span" ->
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         s AS (SELECT DISTINCT doc_id,
                 ${h60Duck("array_to_string(w[i+1 : i+12], ' ')")} AS sp
               FROM (SELECT doc_id, w, unnest(range(0, len(w)-11)) AS i FROM t
                     WHERE len(w) >= 12)),
         d AS (SELECT sp, count(*) AS df FROM s GROUP BY 1)
         SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
           CAST(count(*) FILTER (d.df >= 2) AS BIGINT) AS n_shared,
           CAST(count(*) FILTER (d.df >= 2) * 10000 // count(*) AS BIGINT) AS dup_fp
         FROM s JOIN d USING (sp)
         GROUP BY s.doc_id ORDER BY s.doc_id NULLS FIRST""",
    "split_leakage" ->
      s"""WITH $shinglePairCtes,
         sp AS (SELECT doc_id, ${splitCase(s"($splitBucketDuck)")} AS split
                FROM documents)
         SELECT a, b, spa.split AS split_a, spb.split AS split_b,
           round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard
         FROM inter JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
         JOIN sp spa ON a = spa.doc_id JOIN sp spb ON b = spb.doc_id
         WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
           AND spa.split <> spb.split
         ORDER BY a NULLS FIRST, b NULLS FIRST""",
    "text_line_dedup" ->
      """WITH b AS (
           SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
               THEN 'subscribe to our newsletter for more updates today' || ' ' || text
               ELSE text END AS txt
           FROM documents),
         t AS (SELECT doc_id, string_split(lower(txt), ' ') AS w FROM b),
         segs AS (
           SELECT doc_id, si, array_to_string(w[si*8+1 : si*8+8], ' ') AS seg
           FROM (SELECT doc_id, w, unnest(range(0, (len(w)-1)//8 + 1)) AS si FROM t)),
         d AS (SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY 1)
         SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_segs,
           CAST(count(*) FILTER (d.df >= 25) AS BIGINT) AS n_removed,
           md5(coalesce(array_to_string(
             list(s.seg ORDER BY s.si NULLS FIRST) FILTER (d.df < 25), ' '), '')) AS clean_md5
         FROM segs s JOIN d USING (seg)
         GROUP BY s.doc_id ORDER BY s.doc_id NULLS FIRST""",
    "text_repetition" ->
      """WITH b AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text ELSE text END AS txt
           FROM documents),
         t AS (SELECT doc_id, string_split(lower(txt), ' ') AS w FROM b),
         g AS (
           SELECT doc_id,
             list_transform(range(0, len(w)-2),
               i -> array_to_string(w[i+1 : i+3], ' ')) AS tri
           FROM t WHERE len(w) >= 3)
         SELECT doc_id, CAST(len(tri) AS BIGINT) AS n_tri,
           CAST(len(list_distinct(tri)) AS BIGINT) AS n_uniq,
           CAST((len(tri) - len(list_distinct(tri))) * 10000 // len(tri) AS BIGINT)
             AS dup_fp
         FROM g ORDER BY doc_id NULLS FIRST""",
    "pack_sequences" ->
      """WITH t AS (
           SELECT doc_id, lang,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok
           FROM documents),
         c AS (
           SELECT doc_id, lang, n_tok,
             CAST(COALESCE(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS before
           FROM t)
         SELECT doc_id, lang, n_tok,
           CAST(before // 512 AS BIGINT) AS pack_id,
           CAST(before % 512 AS BIGINT) AS pack_offset
         FROM c ORDER BY lang NULLS FIRST, doc_id NULLS FIRST,
           pack_id NULLS FIRST, pack_offset NULLS FIRST""",
    "text_perplexity" ->
      s"""WITH $pplCtes
         SELECT doc_id, n_bigrams, sum_bits, ppl_bits_x100
         FROM ppl ORDER BY doc_id NULLS FIRST""",
    "quality_ccnet_bucket" ->
      s"""WITH $pplCtes,
         vc AS (SELECT ppl_bits_x100, count(*) AS nv FROM ppl GROUP BY 1),
         cum AS (SELECT ppl_bits_x100,
                   sum(nv) OVER (ORDER BY ppl_bits_x100 NULLS FIRST) AS cum FROM vc),
         tot AS (SELECT sum(nv) AS n FROM vc),
         cuts AS (SELECT
                    min(CASE WHEN cum >= (n + 2) // 3
                             THEN ppl_bits_x100 END) AS c1,
                    min(CASE WHEN cum >= (2 * n + 2) // 3
                             THEN ppl_bits_x100 END) AS c2
                  FROM cum, tot)
         SELECT doc_id, ppl_bits_x100,
           CASE WHEN ppl_bits_x100 <= c1 THEN 'head'
                WHEN ppl_bits_x100 <= c2 THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM ppl, cuts ORDER BY doc_id NULLS FIRST""",
    "tok_zipf" ->
      """WITH wc AS (SELECT word, count(*) AS c FROM (
             SELECT unnest(string_split(lower(text), ' ')) AS word
             FROM documents) GROUP BY 1),
         top AS (SELECT word, c FROM wc
                 ORDER BY c DESC NULLS LAST, word NULLS FIRST LIMIT 100),
         rk AS (SELECT c, CAST(row_number() OVER
                   (ORDER BY c DESC NULLS LAST, word NULLS FIRST) AS BIGINT) AS rnk FROM top)
         SELECT CAST(count(*) AS BIGINT) AS n_fit,
           round(regr_slope(ln(c), ln(rnk)), 4) + 0.0 AS zipf_slope,
           round(regr_intercept(ln(c), ln(rnk)), 4) + 0.0 AS zipf_icept,
           round(regr_r2(ln(c), ln(rnk)), 4) + 0.0 AS fit_r2
         FROM rk""",
    "eval_ngram_f1" ->
      """WITH tk AS (SELECT doc_id // 2 AS pair_id, doc_id % 2 AS side,
             unnest(string_split(lower(text), ' ')) AS word FROM documents),
         c AS (SELECT pair_id, word,
                 sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS c0,
                 sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS c1
               FROM tk GROUP BY 1, 2),
         p AS (SELECT pair_id, sum(least(c0, c1)) AS overlap,
                 sum(c0) AS len_cand, sum(c1) AS len_ref
               FROM c GROUP BY 1)
         SELECT CAST(pair_id AS BIGINT) AS pair_id,
           CAST(overlap AS BIGINT) AS overlap,
           CAST(len_cand AS BIGINT) AS len_cand,
           CAST(len_ref AS BIGINT) AS len_ref,
           CAST(overlap * 10000 // len_cand AS BIGINT) AS p_bp,
           CAST(overlap * 10000 // len_ref AS BIGINT) AS r_bp,
           CAST(overlap * 2 * 10000 // (len_cand + len_ref) AS BIGINT) AS f1_bp
         FROM p WHERE len_cand > 0 AND len_ref > 0
         ORDER BY pair_id NULLS FIRST""",
    "tokenizer_bpe" ->
      """WITH wc AS (
           SELECT word, count(*) AS c_w FROM (
             SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
           GROUP BY 1),
         p AS (SELECT substr(word, CAST(i AS INT), 2) AS pair, c_w
               FROM (SELECT word, c_w, unnest(range(1, length(word))) AS i
                     FROM wc WHERE length(word) >= 2))
         SELECT pair, CAST(sum(c_w) AS BIGINT) AS n FROM p GROUP BY 1
         ORDER BY n DESC NULLS LAST, pair NULLS FIRST LIMIT 30""",
    "mix_sources" ->
      s"""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
         r AS (SELECT lang, n_docs,
                 least(1000000, ((SELECT sum(n_docs) FROM c) // 2 // 5)
                   * 1000000 // n_docs) AS rate_ppm
               FROM c)
         SELECT lang, CAST(max(n_docs) AS BIGINT) AS n_docs,
           CAST(max(rate_ppm) AS BIGINT) AS rate_ppm,
           CAST(count(*) FILTER (
             ${h60Duck("concat('mix:', CAST(doc_id AS VARCHAR))")} % 1000000
               < rate_ppm) AS BIGINT) AS n_kept
         FROM documents JOIN r USING (lang)
         GROUP BY lang ORDER BY lang NULLS FIRST""",
    "mix_temperature" ->
      s"""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
         t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
                 list_reduce(list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY lang NULLS FIRST),
                   (a, x) -> a + x) AS w_sum
               FROM c),
         r AS (SELECT lang, n_docs,
                 least(1000000,
                   CAST(floor(((total // 2) * sqrt(CAST(n_docs AS DOUBLE)) / w_sum)
                     * 1000000 / n_docs) AS BIGINT)) AS rate_ppm
               FROM c, t)
         SELECT lang, CAST(max(n_docs) AS BIGINT) AS n_docs,
           CAST(max(rate_ppm) AS BIGINT) AS rate_ppm,
           CAST(count(*) FILTER (
             ${h60Duck("concat('mixt:', CAST(doc_id AS VARCHAR))")} % 1000000
               < rate_ppm) AS BIGINT) AS n_kept
         FROM documents JOIN r USING (lang)
         GROUP BY lang ORDER BY lang NULLS FIRST""",
    "text_bigrams" ->
      """SELECT bigram, count(*) AS cnt FROM (
           SELECT t[i] || ' ' || t[i+1] AS bigram
           FROM (SELECT t, unnest(range(1, len(t))) AS i
                 FROM (SELECT string_split(lower(text), ' ') AS t FROM documents)
                 WHERE len(t) >= 2))
         GROUP BY 1 ORDER BY cnt DESC NULLS LAST, bigram NULLS FIRST LIMIT 100""",
    "text_tokenize" ->
      """SELECT doc_id, token FROM (
           SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
         ORDER BY doc_id NULLS FIRST, token NULLS FIRST""",
    "text_wordcount" ->
      """SELECT token, count(*) AS cnt FROM (
           SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
         GROUP BY 1 ORDER BY cnt DESC NULLS LAST, token NULLS FIRST LIMIT 100""",
    "text_tfidf" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         df AS (SELECT token, count(*) AS df FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT tf.doc_id, tf.token, tf.tf,
           round(tf.tf * ln(CAST(n.n_docs + 1 AS DOUBLE) / (df.df + 1)), 4) AS tfidf
         FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
         ORDER BY tf.doc_id NULLS FIRST, tf.token NULLS FIRST""",
    "text_lang_stats" ->
      s"""SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
         ${ratio4Duck("sum(n_chars)", "count(*)")} AS avg_chars,
         count(DISTINCT source) AS n_sources
         FROM documents GROUP BY 1 ORDER BY lang NULLS FIRST""",
    "text_langid" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
         s AS (SELECT doc_id,
           len(list_intersect(t, ['scan','agg','join','merge'])) AS score_a,
           len(list_intersect(t, ['table','row','column','line'])) AS score_b,
           len(list_intersect(t, ['fast','slow','query','stream'])) AS score_c
           FROM t)
         SELECT doc_id, score_a, score_b, score_c,
           CASE WHEN score_a >= score_b AND score_a >= score_c THEN 'a'
                WHEN score_b >= score_c THEN 'b' ELSE 'c' END AS pred
         FROM s ORDER BY doc_id NULLS FIRST""",
    "lang_confusion" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
         s AS (SELECT doc_id,
           len(list_intersect(t, ['scan','agg','join','merge'])) AS score_a,
           len(list_intersect(t, ['table','row','column','line'])) AS score_b,
           len(list_intersect(t, ['fast','slow','query','stream'])) AS score_c
           FROM t),
         p AS (SELECT doc_id,
           CASE WHEN score_a >= score_b AND score_a >= score_c THEN 'a'
                WHEN score_b >= score_c THEN 'b' ELSE 'c' END AS pred
           FROM s),
         cm AS (SELECT d.lang, p.pred, count(*) AS n_docs
                FROM documents d JOIN p USING (doc_id) GROUP BY 1, 2),
         tot AS (SELECT lang, sum(n_docs) AS n_lang FROM cm GROUP BY 1)
         SELECT cm.lang, cm.pred, CAST(cm.n_docs AS BIGINT) AS n_docs,
           CAST(cm.n_docs * 10000 // t2.n_lang AS BIGINT) AS share_bp
         FROM cm JOIN tot t2 USING (lang)
         ORDER BY lang NULLS FIRST, pred NULLS FIRST""",
    "doc_length_hist" ->
      """WITH n AS (SELECT len(string_split(lower(text), ' ')) AS n
                    FROM documents),
         b AS (SELECT n, CAST(length(format('{:b}', n)) - 1 AS BIGINT) AS bucket
               FROM n WHERE n >= 1)
         SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n) AS BIGINT) AS min_tokens,
           CAST(max(n) AS BIGINT) AS max_tokens,
           CAST(sum(n) AS BIGINT) AS sum_tokens
         FROM b GROUP BY 1 ORDER BY bucket NULLS FIRST""",
    "text_quality_clf" ->
      s"""WITH tk AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
                      FROM documents),
         w AS (SELECT doc_id, ${h60Duck("tok")} % 2001 - 1000 AS wt FROM tk),
         a AS (SELECT doc_id, count(*) AS n_tokens,
                 CAST(sum(wt) AS BIGINT) AS w_sum FROM w GROUP BY 1)
         SELECT doc_id, n_tokens, w_sum, w_sum > 0 AS keep,
           (CASE WHEN w_sum >= 0 THEN 1.0 ELSE -1.0 END) *
             (CAST((2 * abs(w_sum) * 10000 + 1000 * n_tokens)
                   // (2000 * n_tokens) AS DOUBLE) / 10000.0) + 0.0 AS score
         FROM a ORDER BY doc_id NULLS FIRST""",
    "text_quality" ->
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
         SELECT doc_id,
           len(t) AS n_tokens,
           ${ratio4Duck("list_sum(list_transform(t, x -> length(x)))", "len(t)")} AS avg_word_len,
           ${ratio4Duck("len(list_filter(t, x -> x = 'a' OR x = 'the'))", "len(t)")} AS stopword_ratio,
           ${ratio4Duck("len(list_distinct(t))", "len(t)")} AS type_token_ratio
         FROM t ORDER BY doc_id NULLS FIRST""",
    "text_token_count" ->
      """SELECT doc_id,
         len(string_split(lower(text), ' ')) AS n_ws_tokens,
         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS n_bpe_tokens,
         len(list_distinct(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))) AS n_distinct_bpe
         FROM documents ORDER BY doc_id NULLS FIRST""",
    "text_fingerprint" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS t,
                md5(array_to_string(string_split(lower(text), ' '), ' ')) AS content_md5
              FROM documents)
         SELECT doc_id,
           CAST(sum(i * (ascii(t[i]) + 7 * length(t[i]) + 13)) AS BIGINT) AS fp,
           content_md5
         FROM (SELECT doc_id, t, content_md5, unnest(range(1, len(t)+1)) AS i FROM t)
         GROUP BY doc_id, content_md5
         ORDER BY doc_id NULLS FIRST, content_md5 NULLS FIRST""",
    "mix_epochs" ->
      // identical integer allocation; sum() casts pin DuckDB's HUGEINT
      // aggregates back to BIGINT
      """WITH t AS (SELECT source, CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tok
                    FROM documents GROUP BY 1),
         g AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total, count(*) AS n_src FROM t)
         SELECT source, n_tok,
           (total * 3) // n_src AS target,
           least(4, ((total * 3) // n_src + n_tok - 1) // n_tok) AS epochs,
           least((total * 3) // n_src,
             least(4, ((total * 3) // n_src + n_tok - 1) // n_tok) * n_tok) AS alloc_tok
         FROM t CROSS JOIN g
         ORDER BY source NULLS FIRST""",
    "filter_blocklist" ->
      // independent formulation: the host is derived directly from the
      // source column (what parse_url extracts from the synthesized URL)
      // NULL host (unparseable origin) passes the gate: left-anti keeps a
      // NULL probe key — NOT IN alone would drop it (three-valued UNKNOWN).
      // An empty source yields the invalid authority ".example.com", which
      // Spark's parse_url rejects (NULL host) — mirrored by the CASE. A
      // NULL doc_id NULLs the Spark-side URL concat (and with it the
      // host), so the CASE mirrors that too — without it, a blocklisted
      // source with a NULL doc_id would diverge (Spark keeps, oracle
      // drops) if a fixture ever nulled the spine (round-9 ADVICE).
      // ... and a source with a space (invalid URI) or any non-ASCII char
      // (registry-based authority, no server host) also yields NULL under
      // try_parse_url's java.net.URI semantics (round 11, unicode variant)
      """WITH h AS (SELECT doc_id,
           CASE WHEN doc_id IS NULL OR source IS NULL OR source = ''
                  OR source LIKE '% %'
                  OR regexp_matches(source, '[^\x00-\x7f]')
                THEN NULL
                ELSE source || '.example.com' END AS host
         FROM documents)
         SELECT doc_id, host FROM h
         WHERE host IS NULL OR host NOT IN
           ('src3.example.com', 'src7.example.com',
            'src11.example.com', 'src15.example.com')
         ORDER BY doc_id NULLS FIRST""",
    "text_normalize" ->
      // same fold→strip→collapse→trim chain; DuckDB regexp_replace needs
      // the explicit 'g' flag (replace-first by default) to match Spark's
      // replace-all
      """SELECT doc_id,
           CAST(length(text) AS BIGINT) AS raw_len,
           CAST(length(norm) AS BIGINT) AS norm_len,
           md5(norm) AS norm_md5
         FROM (SELECT doc_id, text,
                 trim(regexp_replace(regexp_replace(
                   translate(lower(text),
                     'àáâäèéêëìíîïòóôöùúûüñç', 'aaaaeeeeiiiioooouuuunc'),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
               FROM documents)
         ORDER BY doc_id NULLS FIRST""",
    "doc_chunk" ->
      // range(0, k+1) is end-exclusive = Spark's inclusive sequence(0, k);
      // DuckDB 1-based inclusive list slice clamps at the list end exactly
      // like Spark's slice(arr, start, len)
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
         c AS (SELECT doc_id, t, unnest(range(0, ((len(t) - 1) // 24) + 1)) AS chunk_id FROM t)
         SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(t[chunk_id * 24 + 1 : chunk_id * 24 + 32]) AS BIGINT) AS n_tok,
           md5(array_to_string(t[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ')) AS chunk_md5
         FROM c ORDER BY doc_id NULLS FIRST, chunk_id NULLS FIRST""",
    "vocab_oov" ->
      // top-20 vocab cut by (count DESC, token ASC) — the same
      // deterministic cutoff as the Spark side's orderBy().limit(20)
      """WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
         cnts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
         vocab AS (SELECT token FROM (
           SELECT token, row_number() OVER (ORDER BY cnt DESC NULLS LAST, token NULLS FIRST) AS rn FROM cnts)
           WHERE rn <= 20)
         SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST((sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 10000) // count(*) AS BIGINT) AS oov_bp
         FROM tok LEFT JOIN vocab v ON tok.token = v.token
         GROUP BY tok.doc_id
         ORDER BY tok.doc_id NULLS FIRST""",
    "tok_fertility" ->
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_words,
         CAST(sum(len(regexp_extract_all(lower(text),
           '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))) AS BIGINT) AS n_tokens,
         ${ratio4Duck("""sum(len(regexp_extract_all(lower(text),
             '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)))""",
           "sum(len(string_split(lower(text), ' ')))")}
           AS fertility
         FROM documents GROUP BY 1 ORDER BY lang NULLS FIRST""",
    "mix_domain_cap" ->
      """WITH r AS (SELECT source, n_chars,
             row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC NULLS LAST, doc_id NULLS FIRST) AS rn
           FROM documents)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN rn <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rn > 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           min(CASE WHEN rn <= 20 THEN n_chars END) AS min_kept_chars
         FROM r GROUP BY 1 ORDER BY source NULLS FIRST""",
    "vocab_coverage" ->
      s"""WITH wc AS (SELECT word, count(*) AS c FROM (
             SELECT unnest(string_split(lower(text), ' ')) AS word
             FROM documents) GROUP BY 1),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_vocab,
                        CAST(sum(c) AS BIGINT) AS n_tokens FROM wc),
         head AS (SELECT c, CAST(row_number() OVER
               (ORDER BY c DESC NULLS LAST, word NULLS FIRST) AS BIGINT) AS rnk
             FROM (SELECT word, c FROM wc
                   ORDER BY c DESC NULLS LAST, word NULLS FIRST LIMIT 30)),
         cov AS (SELECT
             sum(CASE WHEN rnk <= 10 THEN c ELSE 0 END) AS c10,
             sum(CASE WHEN rnk <= 20 THEN c ELSE 0 END) AS c20,
             sum(CASE WHEN rnk <= 30 THEN c ELSE 0 END) AS c30
           FROM head)
         SELECT n_vocab, n_tokens,
           ${ratio4Duck("c10", "n_tokens")} AS cov10,
           ${ratio4Duck("c20", "n_tokens")} AS cov20,
           ${ratio4Duck("c30", "n_tokens")} AS cov30
         FROM cov CROSS JOIN tot""",
    "corpus_datacard" ->
      s"""WITH b AS (
           SELECT doc_id, source, lang, string_split(lower(text), ' ') AS t,
             md5(lower(trim(text))) AS hash
           FROM documents),
         f AS (SELECT *, row_number() OVER (PARTITION BY hash ORDER BY doc_id NULLS FIRST) AS rn
               FROM b),
         k AS (SELECT source, lang, CAST(len(t) AS BIGINT) AS n_tok,
                 (rn = 1 AND $gopherKeepDuck) AS keep
               FROM f),
         cell AS (
           SELECT source, lang, count(*) AS n_docs_raw,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
             CAST(sum(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT) AS n_tokens_kept
           FROM k GROUP BY 1, 2),
         tot AS (SELECT CAST(sum(n_tokens_kept) AS BIGINT) AS tt FROM cell)
         SELECT source, lang, n_docs_raw, n_docs_kept, n_tokens_kept,
           CAST(n_tokens_kept * 10000 // tt AS BIGINT) AS token_share_bp
         FROM cell CROSS JOIN tot
         ORDER BY source NULLS FIRST, lang NULLS FIRST""",
    "tok_vocab_growth" ->
      """WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
         tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
                 FROM documents),
         a AS (SELECT
             CAST(sum(CASE WHEN doc_id * 4 <= mx THEN 1 ELSE 0 END) AS BIGINT) AS n_tok_25,
             CAST(sum(CASE WHEN doc_id * 2 <= mx THEN 1 ELSE 0 END) AS BIGINT) AS n_tok_50,
             count(*) AS n_tok_100,
             count(DISTINCT CASE WHEN doc_id * 4 <= mx THEN token END) AS v_25,
             count(DISTINCT CASE WHEN doc_id * 2 <= mx THEN token END) AS v_50,
             count(DISTINCT token) AS v_100
           FROM tok CROSS JOIN mx)
         SELECT n_tok_25, n_tok_50, n_tok_100, v_25, v_50, v_100,
           round(ln(CAST(v_100 AS DOUBLE) / CAST(v_50 AS DOUBLE))
                 / ln(CAST(n_tok_100 AS DOUBLE) / CAST(n_tok_50 AS DOUBLE)), 4)
             AS heaps_beta
         FROM a""",
    "dedup_rate_curve" ->
      """WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
         h AS (SELECT doc_id, md5(lower(trim(text))) AS hash
               FROM documents),
         a AS (SELECT
             CAST(sum(CASE WHEN doc_id * 4 <= mx THEN 1 ELSE 0 END) AS BIGINT) AS d25,
             CAST(sum(CASE WHEN doc_id * 2 <= mx THEN 1 ELSE 0 END) AS BIGINT) AS d50,
             count(*) AS d100,
             count(DISTINCT CASE WHEN doc_id * 4 <= mx THEN hash END) AS u25,
             count(DISTINCT CASE WHEN doc_id * 2 <= mx THEN hash END) AS u50,
             count(DISTINCT hash) AS u100
           FROM h CROSS JOIN mx)
         SELECT * FROM (
           SELECT 'a_25' AS prefix, d25 AS n_docs, u25 AS n_unique,
             CAST((d25 - u25) * 10000 // d25 AS BIGINT) AS dup_bp FROM a
           UNION ALL
           SELECT 'b_50', d50, u50, CAST((d50 - u50) * 10000 // d50 AS BIGINT) FROM a
           UNION ALL
           SELECT 'c_100', d100, u100, CAST((d100 - u100) * 10000 // d100 AS BIGINT) FROM a)
         ORDER BY prefix NULLS FIRST""",
    "text_keyterms" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         df AS (SELECT token, count(*) AS df
                FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.token,
             tf.tf * ln(CAST(n.n_docs + 1 AS DOUBLE) / (df.df + 1)) AS score
           FROM tf JOIN df ON tf.token = df.token CROSS JOIN n),
         ranked AS (
           SELECT doc_id, token, score,
             CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY round(score, 6) DESC NULLS LAST, token NULLS FIRST) AS BIGINT) AS rn
           FROM scored)
         SELECT doc_id, rn, token, round(score, 4) AS tfidf
         FROM ranked WHERE rn <= 3
         ORDER BY doc_id NULLS FIRST, rn NULLS FIRST"""
  )
}
