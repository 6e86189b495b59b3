package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._
import graft.functions.Custom

/** §2.11 extension semantics: properties the ⊘ (no-oracle) keys rely on
  * (SURVEY.md §5.2.3) — sketch recall vs exact baselines, custom-function
  * equivalence with built-ins.
  */
class ExtensionSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._
  val d = TestSpark.sfDir

  test("dedup_url canonical forms carry no scheme/case/www/query/fragment variance") {
    val out = TextOps.queries("dedup_url")(spark, d)
    val canon = out.select("canon_url").as[String].collect()
    assert(canon.nonEmpty)
    assert(canon.forall(u => u.startsWith("https://") && !u.startsWith("https://www.")))
    assert(canon.forall(u => !u.contains("?") && !u.contains("#") && !u.endsWith("/")))
    assert(canon.forall(u => u == u.toLowerCase))
    // every canonical URL collapses all 4 synthetic variants of itself:
    // n_pages >= n_variants always, and some URL really deduped >1 form
    assert(out.filter($"n_pages" < $"n_variants").count() === 0)
    assert(out.filter($"n_variants" > 1).count() > 0)
  }

  test("fn_url components recompose to the original URL") {
    val out = graft.functions.Scalars.queries("fn_url")(spark, d)
    val bad = out.filter(
      concat(lit("https://"), col("host"), col("path"),
        lit("?id="), col("id_param"), lit("&ref=mail")) =!= col("url"))
    assert(bad.count() === 0)
  }

  test("vec_quantize: int8 range respected, reconstruction error within half-step") {
    val out = VectorOps.queries("vec_quantize")(spark, d)
    assert(out.count() === Tables.embeddings(spark, d).count())
    assert(out.filter($"q_absmax" > 127).count() === 0)
    // round-to-nearest half-step bound |x - q·s/127| ≤ s/254 (+ r4 slack)
    assert(out.filter($"max_err" > $"scale_r" / 254.0 + 0.0001).count() === 0)
  }

  test("dedup_exact is idempotent and keeps the min doc_id") {
    val once = TextOps.queries("dedup_exact")(spark, d)
    assert(once.groupBy("content_hash").count().filter($"count" > 1).count() === 0)
    val keeps = once.select("keep_id").as[Long].collect().toSet
    val mins = Tables.documents(spark, d)
      .groupBy(md5(lower(trim($"text")))).agg(min($"doc_id").as("m"))
      .select("m").as[Long].collect().toSet
    assert(keeps === mins)
  }

  test("levenshtein UDF matches Spark's native expression") {
    val out = Custom.queries("udf_scalar")(spark, d)
      .filter($"lev_native" =!= $"lev_udf")
    assert(out.count() === 0)
    assert(Custom.levenshteinScala("kitten", "sitting") === 3)
    assert(Custom.levenshteinScala("", "abc") === 3)
    assert(Custom.levenshteinScala("abc", "abc") === 0)
  }

  test("Welford UDAF agrees with var_samp to 1e-9 relative") {
    val rows = Custom.queries("udaf_typed")(spark, d).collect()
    rows.foreach { r =>
      val (w, b) = (r.getDouble(1), r.getDouble(2))
      assert(math.abs(w - b) <= 1e-9 * math.max(1.0, math.abs(b)))
    }
  }

  test("approx_count_distinct within 10% of exact") {
    val rows = Aggregates.queries("agg_approx_distinct")(spark, d)
      .select("o_orderstatus", "n_exact", "approx_ok")
      .as[(String, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (k, n, ok) =>
      assert(ok, s"status $k HLL estimate outside 10% of exact=$n")
    }
  }

  test("MinHash-LSH candidates achieve full recall on high-Jaccard pairs") {
    val exact = TextOps.queries("dedup_near")(spark, d)
      .filter($"jaccard" >= 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val cand = TextOps.queries("dedup_minhash")(spark, d)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(cand),
      s"missed ${exact -- cand} of ${exact.size} high-sim pairs")
  }

  test("SimHash: exact duplicates collide; signature is 16-bit") {
    val sh = TextOps.queries("dedup_simhash")(spark, d)
    assert(sh.filter($"simhash16" < 0 || $"simhash16" > 0xffffL).count() === 0)
    val docs = Tables.documents(spark, d)
    val dup = docs.select($"doc_id", $"text")
      .union(docs.select(($"doc_id" + 1000000).as("doc_id"), $"text"))
      .withColumn("lang", lit("x")).withColumn("source", lit("x"))
      .withColumn("n_chars", length($"text").cast("long"))
    dup.createOrReplaceTempView("dup_docs") // not used by op; direct check below
    val toks = dup.select($"doc_id", split(lower($"text"), " ").as("t"))
    val sig = toks.select($"doc_id", explode($"t").as("token"))
      .select($"doc_id", $"token", explode(expr("sequence(0, 15)")).as("bit"))
      .groupBy("doc_id", "bit")
      .agg(sum(expr(
        // mirror the PRODUCTION md5-derived 60-bit token hash (TextOps);
        // the duplicate-equality property itself holds for any
        // deterministic hash — h60 VALUE correctness is covered by the
        // DuckDB differential gate, not here
        s"CASE WHEN (shiftright(${graft.Tables.h60Spark("token")}, CAST(bit AS INT)) & 1) = 1 THEN 1 ELSE -1 END")).as("w"))
      .groupBy("doc_id")
      .agg(sum(expr(
        "CASE WHEN w > 0 THEN shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT)) ELSE CAST(0 AS BIGINT) END")).as("s"))
    val pairs = sig.as[(Long, Long)].collect().toMap
    pairs.filterKeys(_ < 1000000).foreach { case (id, s) =>
      pairs.get(id + 1000000).foreach(s2 => assert(s === s2, s"doc $id simhash differs"))
    }
  }

  test("ANN-LSH neighbors are genuinely similar (sanity vs brute force)") {
    val ann = VectorOps.queries("sim_ann_lsh")(spark, d)
    assert(ann.count() > 0)
    // every ANN hit's similarity must be <= the brute-force best for that query
    val bf = VectorOps.queries("sim_cosine_topk")(spark, d)
      .filter($"rank" === 1).select($"q_id", $"cos_sim".as("best")).as[(Long, Double)].collect().toMap
    ann.select($"q_id", $"cos_sim").as[(Long, Double)].collect().foreach {
      case (q, c) => bf.get(q).foreach(b => assert(c <= b + 1e-9))
    }
  }

  test("dedup_embed: bucketed top-20 is exact on candidates; recall vs all-pairs") {
    // the all-pairs formulation dedup_embed used to RUN now lives only
    // here, as the recall oracle (round-9: the production key is
    // LSH-band-bucketed + exact rerank; this spec keeps it honest the way
    // sim_ann_recall audits sim_ann_lsh)
    val out = VectorOps.queries("dedup_embed")(spark, d)
      .select($"rank", $"a", $"b", $"cos_sim").collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    // emitted ranking is totally ordered and non-increasing in cos_sim
    assert(out.map(_._1).toSeq === (1L to out.length).toSeq)
    out.sliding(2).foreach {
      case Array(p, n) => assert(p._4 >= n._4 - 1e-9, s"rank order broken: $p $n")
      case _ => ()
    }
    // driver-side brute force over the SAME validity gate (spec-scale
    // corpus only — this is exactly the plan shape the key no longer runs)
    val vecs = Tables.embeddings(spark, d)
      .filter(col("embedding").isNotNull && size(col("embedding")) === 64 &&
        expr("array_max(transform(embedding, x -> abs(x))) > 0"))
      .dropDuplicates()
      .select($"vec_id", $"embedding").as[(Long, Seq[Double])].collect()
    def dot(x: Seq[Double], y: Seq[Double]): Double = {
      var a = 0.0; var i = 0
      while (i < x.length) { a += x(i) * y(i); i += 1 }; a
    }
    val norms = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val byId = vecs.toMap
    def cosOf(a: Long, b: Long): Double = dot(byId(a), byId(b)) / (norms(a) * norms(b))
    // (1) EXACTNESS: every emitted pair's similarity equals the exact
    // cosine for that pair — the rerank stage is exact, not approximate
    out.foreach { case (_, a, b, c) =>
      assert(math.abs(c - cosOf(a, b)) < 5e-5, s"pair ($a,$b) cos off: $c vs ${cosOf(a, b)}")
    }
    // (2) RECALL vs the true all-pairs top-20 (rank key = round(cos, 6),
    // tie-break (a, b) — the key's own ordering). 2 bands × 4 bits at
    // spec scale: a random-embedding fixture tops out near cos 0.5, where
    // single-band collision probability is modest — the floor is
    // calibrated to the fixture, the EXACTNESS property above is not.
    val brute = (for {
      i <- vecs.indices; j <- (i + 1) until vecs.length
    } yield {
      val (x, y) = (vecs(i)._1, vecs(j)._1)
      val (a, b) = if (x < y) (x, y) else (y, x)
      (a, b, cosOf(a, b))
    }).sortBy { case (a, b, c) => (-math.rint(c * 1e6), a, b) }.take(20)
    val got = out.map(t => (t._2, t._3)).toSet
    val recall = brute.count { case (a, b, _) => got((a, b)) } / brute.length.toDouble
    info(f"dedup_embed recall@20 vs all-pairs: $recall%.2f")
    // deterministic fixture → deterministic recall: measured 0.40 on the
    // random corpus (round 9); floor pinned just below the measurement
    // (round-10 ADVICE) so a candidate-stage regression that halves it
    // fails. Planted-structure recall (the calibration that actually
    // certifies the LSH stage) is gated separately in PlantedRecallSpec.
    assert(recall >= 0.35, f"recall@20 collapsed: $recall%.2f (measured 0.40 on this fixture)")
  }

  test("knn_label predictions come from the 5 nearest candidate labels") {
    val out = VectorOps.queries("knn_label")(spark, d).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getLong(3) >= 1 && r.getLong(3) <= 5)) // votes in [1,5]
  }

  test("sessionize: sessions split exactly at >4h gaps, cover all events") {
    val gapUs = 4L * 3600 * 1000000L
    val sess = Windows.queries("sessionize")(spark, d)
      .select($"user_id", $"session_seq", unix_micros($"session_start").as("s"),
        unix_micros($"session_end").as("e"), $"n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // per user: consecutive sessions are > gap apart, seqs are 1..n dense
    sess.groupBy(_._1).foreach { case (_, ss) =>
      val byTime = ss.sortBy(_._3)
      assert(byTime.map(_._2).toSeq === (1L to byTime.length).toSeq)
      byTime.sliding(2).foreach {
        case Array(p, n) => assert(n._3 - p._4 > gapUs, s"adjacent sessions within gap: $p $n")
        case _ =>
      }
    }
    assert(sess.map(_._5).sum === Tables.events(spark, d).count())
  }

  test("sessionize_bucketed: identical to sessionize; boundary sessions merge across day buckets") {
    // on the real fixture first: the day-bucketed pre-split plan must be
    // row-for-row identical to the plain gaps-and-islands definition
    def run(key: String, dir: String) =
      Windows.queries(key)(spark, dir).collect().toSeq
    assert(run("sessionize_bucketed", d) === run("sessionize", d))

    // then a handcrafted fixture that FORCES the cross-bucket cases the
    // fixture may or may not contain: a midnight-spanning session, a
    // 3-calendar-day chain (running-sum stitch, not just pairwise merge),
    // and an empty day between events (> 24 h ⇒ split)
    import java.sql.Timestamp
    def t(day: Int, h: Int, m: Int) =
      Timestamp.valueOf(java.time.LocalDateTime.of(2024, 3, day, h, m, 0))
    val u1 = Seq( // one session crossing midnight, then a 5.5 h-gap session
      (1L, t(1, 23, 0), 1L), (2L, t(1, 23, 30), 1L),
      (3L, t(2, 0, 30), 1L), (4L, t(2, 1, 0), 1L), (5L, t(2, 6, 30), 1L))
    val base2 = java.time.LocalDateTime.of(2024, 3, 3, 20, 0, 0)
    val u2 = (0 until 14).map { k => // 14 events 3 h 50 m apart → one 49.8 h session
      (100L + k, Timestamp.valueOf(base2.plusMinutes(230L * k)), 2L)
    }
    val u3 = Seq((200L, t(1, 10, 0), 3L), (201L, t(3, 10, 0), 3L)) // empty day 2
    val dir = "target/sessionize-days"
    val typed = (u1 ++ u2 ++ u3).map { case (id, ts, u) =>
      (id, Option(ts), Option(u))
    } ++ Seq(
      // NULL user: one pseudo-user partition (the === join-back dropped
      // these until the nulls_ties edge variant caught it, round 11);
      // NULL ts: each its own session, sorted first
      (300L, Option(t(1, 12, 0)), None: Option[Long]),
      (301L, Option(t(1, 13, 0)), None: Option[Long]),
      (302L, None: Option[java.sql.Timestamp], Option(1L)))
    typed.map { case (id, ts, u) => (id, ts, u, "view", 1.5, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(3)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = run("sessionize_bucketed", dir)
    assert(got === run("sessionize", dir))
    val byUser = got.map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
      r.getLong(1), r.getTimestamp(2), r.getTimestamp(3), r.getLong(5)))
      .groupBy(_._1)
    // user 1: the 4-event midnight session, the 6:30 single, and the
    // NULL-ts row as its own session
    assert(byUser(1L).map(_._5).sorted === Seq(1L, 1L, 4L))
    val mid = byUser(1L).find(_._5 == 4L).get
    assert(mid._3.toLocalDateTime.getDayOfMonth !=
      mid._4.toLocalDateTime.getDayOfMonth, s"session did not span midnight: $mid")
    assert(byUser(2L).size === 1 && byUser(2L).head._5 === 14L) // 3-day chain intact
    assert(byUser(3L).size === 2) // empty day splits
  }

  test("streaks/transitions bucketed twins: identical to plain; runs merge across day buckets") {
    def run(key: String, dir: String) =
      Windows.queries(key)(spark, dir).collect().toSeq
    // real fixture first: row-for-row identity with the plain plans
    assert(run("streaks_bucketed", d) === run("win_streaks", d))
    assert(run("event_transitions_bucketed", d) === run("event_transitions", d))

    // crafted fixture FORCING every cross-bucket case: a same-type run
    // crossing midnight (must merge), a 3-calendar-day single-type chain
    // (running-sum stitch over runs, not pairwise), a type change exactly
    // at a bucket boundary (must NOT merge), a NULL-user pseudo-entity,
    // and a NULL-ts row (sorts first, so it HEADS user 1's first run)
    import java.sql.Timestamp
    def t(day: Int, h: Int, m: Int) =
      Timestamp.valueOf(java.time.LocalDateTime.of(2024, 3, day, h, m, 0))
    val rows: Seq[(Long, Option[Timestamp], Option[Long], String)] = Seq(
      (302L, None, Some(1L), "A"), // NULL ts: first in user 1's order
      (1L, Some(t(1, 22, 0)), Some(1L), "A"),
      (2L, Some(t(1, 23, 0)), Some(1L), "A"),
      (3L, Some(t(2, 1, 0)), Some(1L), "A"), // run of 4 spans midnight
      (4L, Some(t(2, 2, 0)), Some(1L), "B"),
      (5L, Some(t(2, 3, 0)), Some(1L), "A"),
      (100L, Some(t(3, 10, 0)), Some(2L), "C"), // 3-day chain
      (101L, Some(t(4, 10, 0)), Some(2L), "C"),
      (102L, Some(t(5, 10, 0)), Some(2L), "C"),
      (200L, Some(t(1, 23, 0)), Some(3L), "X"), // boundary + type change
      (201L, Some(t(2, 0, 30)), Some(3L), "Y"),
      (400L, Some(t(1, 10, 0)), None, "Z"), // NULL-user pseudo-entity
      (401L, Some(t(1, 11, 0)), None, "Z"))
    val dir = "target/streaks-days"
    rows.map { case (id, ts, u, ty) => (id, ts, u, ty, 1.5, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(3)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val streaks = run("streaks_bucketed", dir)
    assert(streaks === run("win_streaks", dir))
    val byKey = streaks.map(r =>
      ((if (r.isNullAt(0)) -1L else r.getLong(0)), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(byKey((1L, "A")) === ((4L, 2L)), "midnight run did not merge")
    assert(byKey((1L, "B")) === ((1L, 1L)))
    assert(byKey((2L, "C")) === ((3L, 1L)), "3-day chain did not stitch")
    assert(byKey((3L, "X")) === ((1L, 1L)) && byKey((3L, "Y")) === ((1L, 1L)),
      "boundary type change merged")
    assert(byKey((-1L, "Z")) === ((2L, 1L)), "NULL-user run lost")

    val trans = run("event_transitions_bucketed", dir)
    assert(trans === run("event_transitions", dir))
    val m = trans.map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getLong(3))).toMap
    assert(m(("A", "A")) === ((3L, 7500L))) // incl. NULL-ts→d1 and d1→d2 pairs
    assert(m(("A", "B")) === ((1L, 2500L)))
    assert(m(("B", "A")) === ((1L, 10000L)))
    assert(m(("C", "C")) === ((2L, 10000L))) // both pairs are boundary pairs
    assert(m(("X", "Y")) === ((1L, 10000L)))
    assert(m(("Z", "Z")) === ((1L, 10000L)))
    assert(trans.size === 6)
  }

  test("hot-entity auto-switch: plain plan below cutoff, day-bucketed above (round 13)") {
    // gate-neutrality leg: at fixture scale the knob must choose the
    // PLAIN plans — the bucketed decomposition's namespaced columns
    // (__day / __m_day) are the plan fingerprint
    assert(Windows.maxEventsPerEntity(Tables.events(spark, d)) <=
      Windows.hotEntityCutoff, "fixture crossed the hot-entity cutoff")
    def analyzed(key: String, dir: String): String =
      Windows.queries(key)(spark, dir).queryExecution.analyzed.toString
    assert(!analyzed("sessionize", d).contains("__day"),
      "fixture-scale sessionize took the bucketed plan")
    assert(!analyzed("event_transitions", d).contains("__day"),
      "fixture-scale event_transitions took the bucketed plan")

    // switch leg: ONE whale entity one event past the cutoff must flip
    // both keys to the day-bucketed decomposition (HOTPROBE.json measures
    // the plain plans' one-task cliff past ~1-2M events/entity)
    val n = Windows.hotEntityCutoff + 1
    val dir = "target/autoswitch-events"
    spark.range(n).select(
        $"id".as("event_id"),
        timestamp_micros(lit(1700000000000000L) +
          pmod($"id" * 2654435761L, lit(365L * 24 * 3600 * 1000000L))).as("ts"),
        lit(0L).as("user_id"),
        element_at(array(lit("view"), lit("click"), lit("purchase")),
          (pmod($"id", lit(3)) + 1).cast("int")).as("event_type"),
        ($"id" % 100).cast("double").as("value"),
        lit("{}").as("props"))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(Windows.maxEventsPerEntity(Tables.events(spark, dir)) === n)
    assert(analyzed("sessionize", dir).contains("__day"),
      "whale-scale sessionize stayed on the plain plan")
    assert(analyzed("event_transitions", dir).contains("__day"),
      "whale-scale event_transitions stayed on the plain plan")
  }

  test("agg_skew_salted: salted two-phase plan equals the unsalted aggregate") {
    import graft.Tables.{avg4, dec, outDec}
    val got = Layouts.queries("agg_skew_salted")(spark, d).collect().toSeq
    val exp = Tables.lineitem(spark, d).groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        outDec(sum(dec(col("l_quantity")))).as("sum_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        countDistinct(col("l_partkey")).as("n_parts"),
        avg4("sum(CAST(l_quantity AS DECIMAL(18,4)))", "count(1)").as("avg_qty"))
      .orderBy("l_returnflag").collect().toSeq
    assert(got === exp)
  }

  test("mm_dedup_ahash: ids 2304 apart are byte-identical images and share a bucket") {
    import graft.functions.Custom
    // the planted-duplicate invariant: 256 divides 2304 for every channel
    // formula and 9 divides 2304 for both dims ⇒ identical BMP bytes
    Seq(0L, 17L, 391L, 1000L).foreach { id =>
      assert(java.util.Arrays.equals(Custom.makeBmp(id), Custom.makeBmp(id + 2304)),
        s"payloads diverge at ids $id / ${id + 2304}")
    }
    // and the operator groups them: a fixture spanning one 2304-gap has
    // ids {k, k+2304} for k < 96 — at least those buckets must be ≥ 2
    val dir = "target/ahash-dup"
    spark.range(2400).select(col("id").as("doc_id"),
        lit("x").as("text"), lit("en").as("lang"),
        lit("src0").as("source"), lit(1L).as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val buckets = Custom.queries("mm_dedup_ahash")(spark, dir)
      .filter($"n_docs" >= 2).select($"keep_doc", $"n_docs")
      .as[(Long, Long)].collect()
    assert(buckets.nonEmpty, "no duplicate bucket found")
    // every planted pair's min id keeps its bucket; collisions may merge
    // more members but can never split a true duplicate apart
    assert(buckets.exists(_._1 < 96), s"planted duplicates not bucketed: ${buckets.take(5).toSeq}")
  }

  test("dedup_cluster: cluster ids are min members; sizes consistent; covers all pair docs") {
    val pairs = TextOps.queries("dedup_minhash")(spark, d)
      .select($"a", $"b").distinct().as[(Long, Long)].collect()
    val clusters = TextOps.queries("dedup_cluster")(spark, d)
      .as[(Long, Long, Long)].collect()
    val label = clusters.map(c => c._1 -> c._2).toMap
    // every doc in a candidate pair is clustered, both ends together
    pairs.foreach { case (a, b) =>
      assert(label.contains(a) && label.contains(b) && label(a) === label(b))
    }
    // cluster_id is a member of its own cluster and its minimum
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).min === cid)
      assert(members.forall(_._3 === members.length))
    }
  }

  test("funnel: strict event ordering — out-of-order stages don't convert") {
    import java.sql.Timestamp
    def t(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    // A: view->click->purchase in order (full funnel)
    // B: purchase, click, THEN view (nothing after the view -> view only)
    // C: view->click, no purchase
    // D: click at the SAME instant as view (strictly-after excludes it)
    val ev = Seq(
      (1L, t(0), "view"), (1L, t(1), "click"), (1L, t(2), "purchase"),
      (2L, t(0), "purchase"), (2L, t(1), "click"), (2L, t(2), "view"),
      (3L, t(0), "view"), (3L, t(5), "click"),
      (4L, t(0), "view"), (4L, t(0), "click")
    ).toDF("user_id", "ts", "event_type")
    val got = Windows.funnel(ev).as[(String, Long)].collect().toMap
    assert(got === Map("1_view" -> 4L, "2_click_after_view" -> 2L,
      "3_purchase_after_click" -> 1L))
  }

  test("resample_ohlc: bar invariants hold and open/close follow ts order") {
    val bars = Windows.queries("resample_ohlc")(spark, d).collect()
    assert(bars.nonEmpty)
    bars.foreach { r =>
      val (o, h, l, c) = (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(h >= o && h >= c && l <= o && l <= c && h >= l)
    }
    // bar event counts partition the events table
    assert(bars.map(_.getLong(6)).sum === Tables.events(spark, d).count())
    // recompute one bar's open/close by explicit (ts, event_id) sort
    val r0 = bars.head
    val ev = Tables.events(spark, d)
      .filter($"event_type" === r0.getString(0) &&
        date_trunc("day", $"ts") === r0.getTimestamp(1))
      .orderBy($"ts", $"event_id")
      .select("value").as[Double].collect()
    assert(ev.head === r0.getDouble(2) && ev.last === r0.getDouble(5))
  }

  test("win_ewma: first event per user equals value; kernel matches hand fold") {
    val out = Windows.queries("win_ewma")(spark, d)
    val ev = Tables.events(spark, d)
    // pick a user, recompute the 8-term truncated kernel by hand
    val uid = ev.select("user_id").as[Long].head()
    val vals = ev.filter($"user_id" === uid).orderBy($"ts", $"event_id")
      .select($"event_id", $"value").as[(Long, Double)].collect()
    val got = out.filter($"user_id" === uid)
      .select($"event_id", $"ewma").as[(Long, Double)].collect().toMap
    assert(got(vals.head._1) === math.rint(vals.head._2 * 1e4) / 1e4)
    vals.zipWithIndex.foreach { case ((eid, _), i) =>
      val terms = (0 to math.min(i, 7)).map(k => (vals(i - k)._2, math.pow(0.5, k)))
      val expect = terms.map { case (x, w) => x * w }.foldLeft(0.0)(_ + _) /
        terms.map(_._2).foldLeft(0.0)(_ + _)
      assert(math.abs(got(eid) - expect) <= 5e-5, s"eid=$eid i=$i")
    }
  }

  test("join_asof_forward: one row per click, next purchase never precedes it") {
    val out = Joins.queries("join_asof_forward")(spark, d)
    val nClicks = Tables.events(spark, d).filter($"event_type" === "click").count()
    assert(out.count() === nClicks)
    assert(out.filter($"next_purchase_ts" < $"ts").count() === 0)
    // forward pick is minimal: no purchase strictly between ts and the pick
    val p = Tables.events(spark, d).filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"ts".as("pts"))
    val gaps = out.filter($"next_purchase_ts".isNotNull)
      .join(p, $"user_id" === $"pu" && $"pts" >= $"ts" && $"pts" < $"next_purchase_ts")
    assert(gaps.count() === 0)
  }

  test("layout_zorder files carry disjoint z-ranges (the clustering actually lands)") {
    Layouts.queries("layout_zorder")(spark, d).count() // writes the layout
    val perFile = spark.read
      .parquet(s"${Relational.exportDir}/orders_zorder")
      .groupBy(input_file_name().as("f"))
      .agg(min("zval").as("lo"), max("zval").as("hi"))
      .orderBy("lo").collect()
    assert(perFile.length > 1, "expected a multi-file layout")
    perFile.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("hi") <= b.getAs[Long]("lo"),
        s"overlapping z-ranges: $a vs $b")
      case _ => ()
    }
    // both dimensions are genuinely clustered: a point-range on zval pins
    // BOTH source columns to narrow bands
    val zmax = perFile.last.getAs[Long]("hi")
    assert(zmax > 255, "interleave should exceed 8-bit range")
  }

  test("join_asof_nearest: picks the closest purchase, backward on ties") {
    val out = Joins.queries("join_asof_nearest")(spark, d)
    val nClicks = Tables.events(spark, d).filter($"event_type" === "click").count()
    assert(out.count() === nClicks)
    // minimality: no purchase strictly closer than the pick
    val p = Tables.events(spark, d).filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"ts".as("pts"))
    val closer = out.filter($"nearest_purchase_ts".isNotNull)
      .join(p, $"user_id" === $"pu" &&
        abs(unix_micros($"pts") - unix_micros($"ts")) < $"dist_us")
    assert(closer.count() === 0)
    // backward tie preference: if a purchase sits at exactly dist_us
    // BEFORE the click, the pick must not be after the click
    val tieFwd = out.filter($"nearest_purchase_ts" > $"ts")
      .join(p, $"user_id" === $"pu" &&
        unix_micros($"ts") - unix_micros($"pts") === $"dist_us")
    assert(tieFwd.count() === 0)
  }

  test("scan_csv_malformed quarantines exactly the two corrupt lines") {
    // run the key first (it writes the corrupted export)
    val good = Relational.queries("scan_csv_malformed")(spark, d)
    assert(good.count() === 25)
    // Spark disallows queries whose referenced columns are ONLY
    // _corrupt_record (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — collect the
    // 27-row scan whole and inspect the quarantine column in Scala
    val lines = Relational.malformedScan(spark).collect()
      .filter(!_.isNullAt(3)).map(_.getString(3)).sorted
    assert(lines.length === 2)
    assert(lines.exists(_.startsWith("notanint,")) && lines.exists(_.startsWith("77,")))
  }

  test("fn_try: NULLs exactly where the unsafe form would raise") {
    val out = graft.functions.Scalars.queries("fn_try")(spark, d)
    // try_cast: even keys parse to themselves, odd names → NULL
    assert(out.filter($"c_custkey" % 2 === 0 && ($"tc".isNull || $"tc" =!= $"c_custkey")).count() === 0)
    assert(out.filter($"c_custkey" % 2 === 1 && $"tc".isNotNull).count() === 0)
    // try_divide: NULL iff divisor cycles to 0
    assert(out.filter(($"c_custkey" % 3 === 0) =!= $"td".isNull).count() === 0)
    // try_element_at: NULL iff index overruns the 2-element list
    assert(out.filter(($"c_custkey" % 4 >= 2) =!= $"te".isNull).count() === 0)
  }

  test("scan_schema_evolution: old files surface NULL for the late column") {
    val out = Relational.queries("scan_schema_evolution")(spark, d).collect()
    assert(out.length === 25)
    out.foreach { r =>
      if (r.getInt(0) < 13) assert(r.isNullAt(2), r.toString)
      else assert(!r.isNullAt(2), r.toString)
    }
  }

  test("agg_entropy: bounded by ln(5), zero for single-type users") {
    val out = Aggregates.queries("agg_entropy")(spark, d)
    assert(out.filter($"entropy" < 0 || $"entropy" > math.log(5.0) + 1e-4).count() === 0)
    val single = Tables.events(spark, d).groupBy("user_id")
      .agg(countDistinct($"event_type").as("nd")).filter($"nd" === 1)
    assert(out.join(single, "user_id").filter($"entropy" =!= 0.0).count() === 0)
  }

  test("win_share: shares are [0,1] and sum to ~1 per group") {
    val out = Windows.queries("win_share")(spark, d)
    // tiny lines round to share 0.0000 at 4dp — zero is legitimate
    assert(out.filter($"share" < 0 || $"share" > 1).count() === 0)
    val sums = out.groupBy("l_returnflag").agg(sum($"share").as("s"), count(lit(1)).as("n"))
    sums.collect().foreach { r =>
      // r4 rounding error accumulates at most 5e-5 per row
      assert(math.abs(r.getDouble(1) - 1.0) <= 5e-5 * r.getLong(2), r.toString)
    }
  }

  test("sample_weighted: weight-1 docs always kept; sample is a subset") {
    val out = TextOps.queries("sample_weighted")(spark, d)
    val docs = Tables.documents(spark, d)
    val longDocs = docs.filter(length($"text") >= 400).count()
    assert(out.filter($"weight" === 1.0).count() === longDocs)
    assert(out.join(docs, "doc_id").count() === out.count())
    assert(out.count() < docs.count()) // some short doc is dropped
  }

  test("bitmap distinct: per-shard bitmaps OR-merge to the exact global count") {
    Tables.orders(spark, d).createOrReplaceTempView("orders")
    val merged = spark.sql(
      """SELECT CAST(sum(bitmap_count(bm)) AS BIGINT) FROM (
           SELECT bucket, bitmap_or_agg(bm) AS bm FROM (
             SELECT date_trunc('month', o_orderdate) AS shard,
                    bitmap_bucket_number(o_custkey) AS bucket,
                    bitmap_construct_agg(bitmap_bit_position(o_custkey)) AS bm
             FROM orders GROUP BY 1, 2)
           GROUP BY bucket)""").head().getLong(0)
    val exact = Tables.orders(spark, d).select("o_custkey").distinct().count()
    assert(merged === exact)
  }

  test("agg_cms_topk: sketch never under-counts the heavy hitters") {
    val out = Aggregates.queries("agg_cms_topk")(spark, d).collect()
    assert(out.length === 5)
    out.foreach(r => assert(r.getBoolean(2), r.toString))
    // the probed keys really are the top-5 by exact count
    val want = Tables.lineitem(spark, d).groupBy("l_suppkey").count()
      .orderBy($"count".desc, $"l_suppkey").limit(5)
      .select("l_suppkey").as[Long].collect().toSet
    assert(out.map(_.getLong(0)).toSet === want)
  }

  test("bloom runtime-filter functions: members always hit, strangers mostly miss") {
    val row = Aggregates.queries("agg_bloom_filter")(spark, d).collect().head
    assert(row.getLong(1) === 0L, s"bloom produced false negatives: $row")
    assert(row.getBoolean(2), s"fp rate above bound: $row")
    // direct expression-level check: might_contain requires the sketch as
    // a scalar subquery (the same contract Spark's runtime filter uses).
    // This probe trips Spark's BloomFilterMightContain codegen on the
    // boxed literal ("java.lang.Long is not an rvalue") and falls back to
    // interpreter mode — harmless and TEST-ONLY: the product key's plan
    // (agg_bloom_filter) compiles clean (zero codegen errors in a full
    // Verify sweep).
    spark.range(100).createOrReplaceTempView("bf_ids")
    val hit = spark.sql(
      """SELECT might_contain(
           (SELECT bloom_filter_agg(xxhash64(id), 100L, 8192L) FROM bf_ids),
           xxhash64(42L)) AS hit""").head()
    assert(hit.getBoolean(0) === true)
  }

  test("agg_hll_partial: sharded sketch union estimates exactly like a direct sketch") {
    val row = Aggregates.queries("agg_hll_partial")(spark, d).collect().head
    assert(row.getBoolean(2), s"contract violated: $row")
    // merge invariance — the property that makes sketches re-aggregatable:
    // union of per-shard sketches has the same registers as one global sketch
    val direct = Tables.orders(spark, d)
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(o_custkey, 14))")).head().getLong(0)
    val sharded = Tables.orders(spark, d)
      .groupBy(date_trunc("month", $"o_orderdate")).agg(expr("hll_sketch_agg(o_custkey, 14)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")).head().getLong(0)
    assert(direct === sharded)
  }

  test("sink_partitioned readback pushes the partition filter into the scan") {
    // force the partitioned write, then assert the filtered readback scans
    // only the o_orderstatus=F partition (partition pruning, not a full scan)
    Layouts.queries("sink_partitioned")(spark, d).count()
    val read = spark.read.parquet(s"${operators.Relational.exportDir}/orders_by_status")
      .filter($"o_orderstatus" === "F")
    val scan = read.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec leaf"))
    assert(scan.partitionFilters.nonEmpty, "partition filter not pushed")
    val dirs = scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files.map(_.getPath.toString))
    assert(dirs.nonEmpty && dirs.forall(_.contains("o_orderstatus=F")),
      s"pruning read beyond the F partition: $dirs")
  }

  test("graph_pagerank: teleport floor, bounded total mass, full node coverage") {
    val out = GraphOps.queries("graph_pagerank")(spark, d).collect()
    val n = Tables.customer(spark, d).count() + Tables.supplier(spark, d).count()
    assert(out.length === n)
    out.foreach(r => assert(r.getDouble(1) >= 0.15 - 1e-9))
    // damped mass conservation: total <= n (truncating fixed-point only loses mass)
    assert(out.map(_.getDouble(1)).sum <= n.toDouble + 1e-6)
  }

  test("anomaly_zscore: flagged rows really are >3 sd from their type mean") {
    val out = Profiling.queries("anomaly_zscore")(spark, d)
    assert(out.count() > 0)
    assert(out.filter(abs($"z") <= 3.0).count() === 0)
    // cross-check one type's mean/sd against Spark's own avg/stddev_samp
    val agg = Tables.events(spark, d).groupBy("event_type")
      .agg(avg($"value").as("m"), stddev_samp($"value").as("sd"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    out.collect().foreach { r =>
      val (m, sd) = agg(r.getString(1))
      assert(math.abs((r.getDouble(2) - m) / sd) > 2.99, r.toString)
    }
  }

  test("profile_columns: one row per column, distincts bounded, min <= max") {
    val out = Profiling.queries("profile_columns")(spark, d).collect()
    assert(out.length === 6)
    val n = Tables.lineitem(spark, d).count()
    out.foreach { r =>
      assert(r.getLong(1) === 0L) // fixture has no nulls in these columns
      assert(r.getLong(2) > 0L && r.getLong(2) <= n)
      assert(r.getDouble(3) <= r.getDouble(4))
    }
  }

  test("win_distinct_count: non-decreasing per user, capped by type universe") {
    val out = Windows.queries("win_distinct_count")(spark, d)
    val nTypes = Tables.events(spark, d).select("event_type").distinct().count()
    assert(out.filter($"n_types" < 1 || $"n_types" > nTypes).count() === 0)
    // per user the running count never decreases and ends at the user's
    // exact distinct-type count
    val fin = out.groupBy("user_id").agg(max($"n_types").as("mx"))
    val truth = Tables.events(spark, d).groupBy("user_id")
      .agg(countDistinct($"event_type").as("nd"))
    assert(fin.join(truth, "user_id").filter($"mx" =!= $"nd").count() === 0)
  }

  test("cte_recursive: gap-free 60-day spine partitions the window's orders") {
    val out = Joins.queries("cte_recursive")(spark, d).collect()
    assert(out.length === 60)
    val inWindow = Tables.orders(spark, d)
      .filter($"o_orderdate" >= "1995-01-01" && $"o_orderdate" < "1995-03-02")
      .count()
    assert(out.map(_.getLong(1)).sum === inWindow)
  }

  test("join_lateral: at most 2 orders per customer and they are the top-2") {
    val out = Joins.queries("join_lateral")(spark, d)
    assert(out.groupBy("c_custkey").count().filter($"count" > 2).count() === 0)
    val best = out.groupBy("c_custkey").agg(max($"o_totalprice").as("got"))
    val truth = Tables.orders(spark, d).groupBy($"o_custkey".as("c_custkey"))
      .agg(max($"o_totalprice").as("want"))
    assert(best.join(truth, "c_custkey").filter($"got" =!= $"want").count() === 0)
  }

  test("cluster_kmeans: partitions the corpus, nonneg distances, k <= 4") {
    val out = VectorOps.queries("cluster_kmeans")(spark, d).collect()
    assert(out.length <= 4 && out.nonEmpty)
    assert(out.map(_.getLong(1)).sum === Tables.embeddings(spark, d).count())
    out.foreach(r => assert(r.getDouble(2) >= 0.0))
  }

  test("tfidf: common-to-all terms get zero-ish idf, rare terms positive") {
    val n = Tables.documents(spark, d).count()
    val tf = TextOps.queries("text_tfidf")(spark, d)
    val dfs = tf.select("token").distinct().count()
    assert(dfs > 0)
    val anyNeg = tf.filter($"tfidf" < -0.0001).count()
    assert(anyNeg === 0, "idf of df<=N terms must be >= ln((N+1)/(N+1)) = 0")
    assert(n > 0)
  }

  test("text_normalize: normalized form is idempotent and never longer") {
    val out = TextOps.queries("text_normalize")(spark, d)
    assert(out.count() === Tables.documents(spark, d).count())
    assert(out.filter($"norm_len" > $"raw_len").count() === 0)
    // idempotence: re-running the chain over the already-normalized text
    // must not change it (the defining property of a canonicalizer) —
    // verified via the md5: normalize(normalize(x)) has the same md5
    val renorm = Tables.documents(spark, d).select(
      $"doc_id",
      md5(trim(regexp_replace(regexp_replace(
        translate(lower(trim(regexp_replace(regexp_replace(
          translate(lower($"text"), "àáâäèéêëìíîïòóôöùúûüñç", "aaaaeeeeiiiioooouuuunc"),
          "[^a-z0-9 ]", ""), " +", " "))),
          "àáâäèéêëìíîïòóôöùúûüñç", "aaaaeeeeiiiioooouuuunc"),
        "[^a-z0-9 ]", ""), " +", " "))).as("md5_2"))
    assert(out.join(renorm, "doc_id").filter($"norm_md5" =!= $"md5_2").count() === 0)
  }

  test("doc_chunk: strided chunks tile every document with bounded overlap") {
    val out = TextOps.queries("doc_chunk")(spark, d).cache()
    val docs = Tables.documents(spark, d)
      .select($"doc_id", size(split(lower($"text"), " ")).cast("long").as("n"))
    // per doc: chunk count = ceil(n/24) with the last start at (n-1) div 24,
    // every non-final chunk is full (32 tokens or runs to the end), and
    // token coverage: sum of per-chunk sizes >= n (stride < chunk → overlap)
    val per = out.groupBy("doc_id").agg(
      count(lit(1)).as("n_chunks"), max($"chunk_id").as("max_id"),
      sum($"n_tok").as("tok_sum"), min($"n_tok").as("min_tok"))
    val j = per.join(docs, "doc_id")
    assert(j.filter($"n_chunks" =!= ($"max_id" + 1)).count() === 0)
    assert(j.filter($"max_id" =!= expr("(n - 1) div 24")).count() === 0)
    assert(j.filter($"tok_sum" < $"n").count() === 0, "chunks must cover all tokens")
    assert(out.filter($"n_tok" > 32).count() === 0)
    out.unpersist()
    ()
  }

  test("vocab_oov: rates bounded, vocab tokens score zero OOV") {
    val out = TextOps.queries("vocab_oov")(spark, d)
    assert(out.count() === Tables.documents(spark, d).count())
    assert(out.filter($"n_oov" > $"n_tok" || $"n_oov" < 0).count() === 0)
    assert(out.filter($"oov_bp" < 0 || $"oov_bp" > 10000).count() === 0)
    // the corpus has 31 distinct tokens and vocab keeps 20 → some doc must
    // carry OOV mass, and no doc can be 100% OOV (top-20 covers the head)
    assert(out.filter($"n_oov" > 0).count() > 0)
    assert(out.filter($"oov_bp" === 10000).count() === 0)
  }

  test("dedup_semantic: covers the corpus, cluster minima survive, verdicts match brute force") {
    val out = VectorOps.queries("dedup_semantic")(spark, d).cache()
    val n = Tables.embeddings(spark, d).count()
    assert(out.count() === n)
    // the min vec_id of every cluster has no smaller-id partner → must be kept
    val minPerCluster = out.groupBy("cluster").agg(min($"vec_id").as("vec_id"))
    assert(out.join(minPerCluster, Seq("cluster", "vec_id")).filter(!$"keep").count() === 0)
    // the fixture-calibrated threshold actually fires, but never clears a cluster
    assert(out.filter(!$"keep").count() > 0)
    val clusters = out.groupBy("cluster")
      .agg(count(lit(1)).as("n"), sum(when($"keep", 1L).otherwise(0L)).as("n_keep"))
    assert(clusters.filter($"n_keep" === 0).count() === 0)
    // brute-force verdict recompute: removed ⟺ ∃ smaller-id same-cluster
    // partner with round(cos,6) >= 0.35 (independent machinery: SQL join)
    val e = Tables.embeddings(spark, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    out.join(e, "vec_id").createOrReplaceTempView("sem")
    val mismatch = spark.sql(
      """SELECT s.vec_id FROM sem s
         LEFT JOIN (
           SELECT DISTINCT b.vec_id FROM sem a JOIN sem b
           ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           WHERE round(vec_dot(a.v, b.v) /
             (sqrt(vec_dot(a.v, a.v)) * sqrt(vec_dot(b.v, b.v))), 6) >= 0.35) r
         ON s.vec_id = r.vec_id
         WHERE s.keep = (r.vec_id IS NOT NULL)""").count()
    assert(mismatch === 0)
    out.unpersist()
    ()
  }

  test("sim_rerank: 3 ranked rows per query and high recall vs exact top-3") {
    val out = VectorOps.queries("sim_rerank")(spark, d).cache()
    assert(out.count() === 30)
    assert(out.filter($"rank" < 1 || $"rank" > 3).count() === 0)
    assert(out.filter(abs($"cos_sim") > 1.0001).count() === 0)
    // exact top-3 over the same candidate split (queries <10, corpus >=10)
    Tables.embeddings(spark, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .createOrReplaceTempView("rr_e")
    val exact = spark.sql(
      """SELECT q_id, vec_id FROM (
           SELECT q.vec_id AS q_id, c.vec_id,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               round(vec_dot(q.v, c.v) /
                 (sqrt(vec_dot(q.v, q.v)) * sqrt(vec_dot(c.v, c.v))), 6) DESC,
               c.vec_id) AS rk
           FROM rr_e q JOIN rr_e c ON q.vec_id < 10 AND c.vec_id >= 10)
         WHERE rk <= 3""")
    val hits = out.select("q_id", "vec_id").join(exact, Seq("q_id", "vec_id")).count()
    // int8 shortlist of 10 then exact rerank: recall@3 should be near-perfect;
    // require >= 2/3 overall so the gate survives quantization edge cases
    assert(hits >= 20, s"rerank recall@3 too low: $hits/30")
    out.unpersist()
    ()
  }

  test("filter_blocklist: no blocked host survives, everything else does") {
    val out = TextOps.queries("filter_blocklist")(spark, d)
    val n = Tables.documents(spark, d).count()
    val blocked = Set("src3.example.com", "src7.example.com",
      "src11.example.com", "src15.example.com")
    assert(out.filter($"host".isin(blocked.toSeq: _*)).count() === 0)
    val expectedKept = Tables.documents(spark, d)
      .filter(!concat($"source", lit(".example.com")).isin(blocked.toSeq: _*)).count()
    assert(out.count() === expectedKept)
    assert(out.count() > 0 && out.count() < n)
  }

  test("mix_epochs: epochs in [1,4], allocation never exceeds target or capacity") {
    val out = TextOps.queries("mix_epochs")(spark, d).cache()
    assert(out.count() === Tables.documents(spark, d).select("source").distinct().count())
    assert(out.filter($"epochs" < 1 || $"epochs" > 4).count() === 0)
    assert(out.filter($"alloc_tok" > $"target").count() === 0)
    assert(out.filter($"alloc_tok" > $"epochs" * $"n_tok").count() === 0)
    // under-target allocation happens ONLY when the 4-epoch cap binds
    assert(out.filter($"alloc_tok" < $"target" && $"epochs" =!= 4).count() === 0)
    // a 3x budget over ~uniform sources must actually exercise repetition
    assert(out.filter($"epochs" >= 2).count() > 0)
    out.unpersist()
    ()
  }

  test("mm_resize: aspect preserved, long edge pinned to 224, patch grid consistent") {
    val out = graft.functions.Custom.queries("mm_resize")(spark, d).cache()
    assert(out.count() ===
      Tables.documents(spark, d).select("doc_id").na.drop().distinct().count())
    assert(out.filter(greatest($"dst_w", $"dst_h") =!= 224).count() === 0)
    assert(out.filter($"dst_w" > 224 || $"dst_h" > 224 || $"dst_w" < 1 || $"dst_h" < 1).count() === 0)
    // aspect ordering preserved: wider-than-tall stays wider-than-tall
    assert(out.filter(($"src_w" > $"src_h") && ($"dst_w" < $"dst_h")).count() === 0)
    assert(out.filter(($"src_h" > $"src_w") && ($"dst_h" < $"dst_w")).count() === 0)
    assert(out.filter($"n_patches" =!=
      expr("((dst_w + 15) div 16) * ((dst_h + 15) div 16)")).count() === 0)
    out.unpersist()
    ()
  }

  test("mm_decode: ImageIO round trip is bit-exact against the generator formula") {
    import graft.functions.Custom
    // direct kernel check, independent of the SQL oracle: encode, decode,
    // compare EVERY pixel to the formula (a few representative ids)
    Seq(0L, 1L, 17L, 4999L).foreach { id =>
      val img = Custom.decodeImage(Custom.makeBmp(id))
      val (w, h) = (img.getWidth, img.getHeight)
      assert(w === 8 + Math.floorMod(id, 9L).toInt)
      assert(h === 8 + Math.floorMod(id * 7, 9L).toInt)
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y) & 0xffffff
        val exp = (Math.floorMod(id + 3L * x + 7L * y, 256L).toInt << 16) |
          (Math.floorMod(2L * x + 5L * y + 11L * id, 256L).toInt << 8) |
          Math.floorMod(x.toLong * y + id, 256L).toInt
        assert(rgb === exp, s"pixel ($x,$y) of doc $id decoded wrong")
      }
    }
    // and the operator output matches a Spark-side SQL recomputation of
    // the same formula (the oracle's logic, run in-engine)
    val got = Custom.queries("mm_decode")(spark, d)
    val exp = Tables.documents(spark, d).select($"doc_id").na.drop().distinct()
      .withColumn("w", expr("8 + pmod(doc_id, 9)"))
      .withColumn("h", expr("8 + pmod(doc_id * 7, 9)"))
      .withColumn("x", explode(expr("sequence(0, CAST(w - 1 AS INT))")))
      .withColumn("y", explode(expr("sequence(0, CAST(h - 1 AS INT))")))
      .select($"doc_id", $"w", $"h",
        expr("pmod(doc_id + 3*x + 7*y, 256)").as("r"),
        expr("pmod(2*x + 5*y + 11*doc_id, 256)").as("g"),
        expr("pmod(x*y + doc_id, 256)").as("b"),
        expr("y*w + x + 1").as("pos"))
      .groupBy("doc_id", "w", "h")
      .agg(sum($"r" + $"g" + $"b").as("lum2"),
        sum($"pos" * (lit(3) * $"r" + lit(5) * $"g" + lit(7) * $"b")).as("hash2"))
    val bad = got.join(exp, "doc_id")
      .filter($"width" =!= $"w" || $"height" =!= $"h" ||
        $"lum_sum" =!= $"lum2" || $"px_hash" =!= $"hash2")
    assert(bad.count() === 0)
    assert(got.count() === exp.count())
  }
}
