package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._
import graft.plans.Mutate
import java.nio.file.{Files, Paths}

/** Gate-sensitivity (mutation) audit registry — scripts/mutcheck.py.
  *
  * The differential gate (Verify + DuckDB oracle, scripts/check.py) is the
  * repo's correctness authority, so its own blind spots are the top risk:
  * an oracle that MIRRORS a Spark-side bug, or a fixture that never
  * exercises the behavior a formula encodes, passes green while wrong
  * (the round-7 vec_pq 16-of-64-dims bug is the canonical example — found
  * by review, not by the gate). The reference itself signals
  * mutation-testing intent (cargo-mutants in its .gitignore); this is that
  * idea applied to the gate instead of the code.
  *
  * Each entry is a DELIBERATELY WRONG variant of a real `SparkEntry.queries`
  * key, with one defect from a named defect class, run on the fixture that
  * makes the defect observable: `clean`, or a hostile EdgeFixtures variant
  * (`nulls` for NULL-path defects, `ties` for boundary/tie-break ones,
  * `dupkeys` for duplicate-sensitive ones). `graft.MutantVerify` writes
  * their results exactly like Verify; `scripts/mutcheck.py` then runs the
  * UNCHANGED oracle compare and requires it to FAIL every entry. A
  * survivor means the gate cannot see that defect class on that fixture.
  *
  * Two kinds of entry:
  *  - [[Planted]]: the key itself, unchanged, with `graft.plans.Mutate(op,
  *    site)` making one mechanical edit to the plan its result is written
  *    from. Construction (eager jobs, checkpoints, `Derived` builds) runs
  *    unmutated. `Mutate.ops` maps each operator to its edit and the
  *    defect classes it stands in for.
  *
  *  - [[Mutant]]: a hand-written copy of the key with the defect in its
  *    code (`// BUG`), for defects those operators do not express: a wrong
  *    formula, aggregate or window spec, a constant that never reaches the
  *    written plan, or a defect inside a checkpoint or `Derived` build,
  *    which construction runs unmutated.
  */
object MutantQueries {

  /** `clazz` is the defect class; `fixture` is clean, nulls, ties or dupkeys. */
  sealed trait Entry {
    def key: String
    def clazz: String
    def fixture: String
    /** Collision-free output name: a key may carry one entry per class. */
    def outName: String = s"${key}__$clazz"
  }

  final case class Mutant(key: String, clazz: String, desc: String, fixture: String,
                          fn: (SparkSession, String) => DataFrame) extends Entry

  final case class Planted(key: String, clazz: String, fixture: String, op: String, site: Int)
      extends Entry

  /** Sites are indices into `graft.plans.Mutate.sites(op, plan)`. */
  val planted: Seq[Planted] = Seq(
    Planted("agg_group_multi", "boundary", "ties", "cmp", 0),
    Planted("join_theta", "boundary", "ties", "cmp", 1),
    // an equal-ts purchase sorts after the click: the as-of bound made exclusive
    Planted("join_asof", "boundary", "ties", "tiebreak", 0),
    Planted("gql_filter_ops", "exclusive-between", "ties", "cmp", 0),
    Planted("filter_between", "boundary", "clean", "cmp", 1),
    Planted("agg_filtered", "boundary", "ties", "cmp", 0),
    Planted("q_waiting_suppliers", "boundary", "clean", "cmp", 0),
    Planted("market_basket", "boundary", "clean", "cmp", 0),
    Planted("split_assign", "boundary", "clean", "cmp", 0),
    Planted("win_running_sum", "frame-off-by-one", "clean", "frame", 0),
    Planted("win_moving_avg", "frame-off-by-one", "clean", "frame", 0),
    Planted("win_range_frame", "frame-off-by-one", "ties", "frame", 0),
    Planted("win_topk_group", "wrong-tiebreak", "ties", "tiebreak", 1),
    Planted("agg_mode", "wrong-tiebreak", "dupkeys", "tiebreak", 0),
    Planted("sort_multi", "null-ordering", "nulls", "nulls", 1),
    Planted("join_full", "null-ordering", "clean", "nulls", 0),
    Planted("agg_count_distinct", "dropped-distinct", "dupkeys", "dedup", 0),
    Planted("distinct", "dropped-distinct", "dupkeys", "dedup", 0),
    Planted("stream_dedup", "dropped-dedup-key", "clean", "dedup", 1),
    Planted("join_multikey", "dropped-join-key", "clean", "conjunct", 1),
    Planted("gql_catalog_agg", "dropped-pushed-filter", "clean", "conjunct", 2),
    Planted("topk", "limit-off-by-one", "clean", "limit", 0),
    Planted("sim_ivf_pq", "limit-off-by-one", "clean", "cmp", 0),
    Planted("offset", "offset-off-by-one", "clean", "limit", 1),
    Planted("gql_paginate", "offset-off-by-one", "clean", "limit", 1),
    Planted("agg_median", "rank-off-by-one", "clean", "const", 0),
    // the ELSE arm's remainder: the one the window start is computed from
    Planted("stream_tumbling", "window-width", "clean", "const", 9),
    Planted("graph_pagerank", "wrong-constant", "clean", "const", 1),
    Planted("agg_percentile", "wrong-quantile", "clean", "const", 6),
    Planted("agg_histogram", "wrong-constant", "clean", "const", 2),
    Planted("win_lag_lead", "wrong-offset", "clean", "const", 0),
    Planted("corpus_decontam", "wrong-partition", "clean", "const", 8),
    Planted("vec_quantize", "wrong-constant", "clean", "const", 4),
    Planted("dedup_semantic", "wrong-threshold", "clean", "const", 1),
    Planted("dq_freshness", "wrong-unit", "clean", "const", 0),
    Planted("fn_date", "wrong-interval", "clean", "const", 0),
    Planted("join_semi", "join-type", "clean", "join", 0),
    Planted("join_anti", "join-type", "clean", "join", 0))

  val mutants: Seq[Mutant] = Seq(

    Mutant("agg_avg", "wrong-denominator",
      "average divides by count(col) instead of count(*)",
      "nulls", (s, d) =>
        lineitem(s, d).groupBy("l_linestatus")
          .agg(
            r4(sum(dec(col("l_quantity"))).cast(DoubleType) /
              count(col("l_quantity"))).as("avg_qty"), // BUG
            r4(sum(dec(col("l_extendedprice"))).cast(DoubleType) /
              count(col("l_extendedprice"))).as("avg_price")) // BUG
          .orderBy("l_linestatus")),

    Mutant("agg_entropy", "wrong-total",
      "entropy normalizes by count(*) instead of the sum of typed counts",
      "nulls", (s, d) => {
        val types = Seq("view", "click", "purchase", "signup", "error")
        val cnts = types.map(t => count(when(col("event_type") === t, 1)).as(s"c_$t"))
        val g = events(s, d).groupBy("user_id")
          .agg(cnts.head, (cnts.tail :+ count(lit(1)).as("n_all")): _*)
          .withColumn("n_events", col("n_all")) // BUG: counts NULL/unknown types
        val terms = types.map { t =>
          val p = col(s"c_$t").cast(DoubleType) / col("n_events").cast(DoubleType)
          when(col(s"c_$t") > 0, -(p * log(p))).otherwise(lit(0.0))
        }
        g.select(col("user_id"), col("n_events"),
            r4(terms.reduce(_ + _)).as("entropy"))
          .orderBy("user_id")
      }),

    Mutant("fn_surrogate_key", "dropped-null-sentinel",
      "surrogate key concat without NULL sentinels (concat_ws skips NULLs)",
      "nulls", (s, d) => {
        val sk = md5(concat_ws("||", // BUG: (a,NULL,b) collides with (a,b,NULL)
          col("l_orderkey").cast("string"),
          col("l_linenumber").cast("string"),
          col("l_partkey").cast("string"),
          col("l_suppkey").cast("string")))
        lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber").cast(LongType).as("l_linenumber"),
            sk.as("surrogate_key"))
          .orderBy("l_orderkey", "l_linenumber", "surrogate_key")
      }),

    Mutant("sim_cosine_topk", "truncated-dim-loop",
      "cosine dot product over 63 of 64 dims (the vec_pq-class bug)",
      "clean", (s, d) => {
        val e = embeddings(s, d)
        val full = e.withColumn("nrm",
          sqrt(expr("aggregate(zip_with(embedding, embedding, (x, y) -> x * y), " +
            "CAST(0.0 AS DOUBLE), (a, x) -> a + x)")))
        val q = full.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
            col("nrm").as("q_norm"))
        val c = full.select(col("vec_id"), col("embedding").as("cv"),
          col("nrm").as("c_norm"))
        val dot63 = expr("aggregate(zip_with(slice(qv, 1, 63), slice(cv, 1, 63), " +
          "(x, y) -> x * y), CAST(0.0 AS DOUBLE), (a, x) -> a + x)") // BUG
        val scored = c.join(broadcast(q), col("q_id") =!= col("vec_id"))
          .withColumn("cos", dot63 / (col("q_norm") * col("c_norm")))
        val w = Window.partitionBy("q_id")
          .orderBy(round(col("cos"), 6).desc, col("vec_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("q_id"), col("rank"), col("vec_id"),
            (r4(col("cos")) + lit(0.0)).as("cos_sim"))
          .orderBy("q_id", "rank")
      }),

    Mutant("dedup_exact", "dropped-normalization",
      "content hash on raw text (no lower/trim normalization)",
      "nulls", (s, d) =>
        documents(s, d)
          .groupBy(md5(col("text")).as("content_hash")) // BUG
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .orderBy("content_hash")),

    // round 9: one hand mutant per (defect class × module) cell still
    // uncovered, favouring keys whose oracles re-derive complex formulations

    Mutant("subq_scalar", "wrong-aggregate",
      "scalar subquery uses max instead of avg",
      "clean", (s, d) => {
        lineitem(s, d).createOrReplaceTempView("lineitem")
        s.sql("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
                 WHERE l_quantity > 1.8 * (SELECT max(l_quantity) FROM lineitem)
                 ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST, l_quantity NULLS FIRST""")
      }),

    Mutant("agg_rollup", "dropped-grouping-set",
      "rollup flattened to a plain group-by (subtotal and grand-total rows missing)",
      "clean", (s, d) =>
        orders(s, d).groupBy("o_orderstatus", "o_orderpriority") // BUG
          .agg(count(lit(1)).as("cnt"),
               lit(0L).as("g_status"), lit(0L).as("g_prio"))
          .orderBy(col("g_status"), col("g_prio"),
            col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)),

    Mutant("agg_stats", "wrong-denominator",
      "population stddev/variance instead of sample",
      "clean", (s, d) =>
        lineitem(s, d).groupBy("l_returnflag")
          .agg(
            r4(stddev_pop(col("l_quantity"))).as("sd_qty"), // BUG
            r4(var_pop(col("l_quantity"))).as("var_qty"), // BUG
            (r4(corr(col("l_quantity"), col("l_extendedprice"))) + lit(0.0)).as("corr_qp"),
            (r4(covar_samp(col("l_quantity"), col("l_extendedprice"))) + lit(0.0)).as("cov_qp"))
          .orderBy("l_returnflag")),

    Mutant("set_except", "set-vs-bag",
      "EXCEPT replaced by EXCEPT ALL (bag semantics under duplicate keys)",
      "dupkeys", (s, d) =>
        customer(s, d).select("c_custkey")
          .exceptAll(orders(s, d).select(col("o_custkey").as("c_custkey"))) // BUG
          .orderBy("c_custkey")),

    Mutant("win_first_last", "frame-truncated",
      "full-partition frame stops at CURRENT ROW (last_order = current row)",
      "clean", (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow) // BUG
        orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"),
            first(col("o_orderkey")).over(w).as("first_order"),
            last(col("o_orderkey")).over(w).as("last_order"))
          .orderBy("o_orderkey")
      }),

    Mutant("stream_session", "window-width",
      "session gap 29 minutes instead of 30 (grid-occupied boundary gaps split)",
      "ties", (s, d) =>
        events(s, d)
          .groupBy(session_window(col("ts"), "29 minutes"), col("user_id")) // BUG
          .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
          .select(col("user_id"), col("session_window.start").as("session_start"),
                  col("last_ts"), col("n_events"))
          .orderBy("user_id", "session_start")),

    Mutant("stream_sliding", "wrong-slide",
      "sliding window slide equals width (overlap dropped)",
      "clean", (s, d) =>
        events(s, d)
          .groupBy(window(col("ts"), "10 minutes", "10 minutes")) // BUG
          .agg(count(lit(1)).as("cnt"), outDec(sum(dec(col("value")))).as("sum_val"))
          .select(col("window.start").as("w_start"), col("cnt"), col("sum_val"))
          .orderBy("w_start")),

    Mutant("dedup_minhash", "truncated-band-loop",
      "band-join candidates from 7 of 8 bands",
      "clean", (s, d) =>
        graft.operators.Derived.bandPairs(s, d)
          .filter(col("band") < 7) // BUG
          .distinct()
          .orderBy("a", "b", "band")),

    Mutant("text_tfidf", "wrong-smoothing",
      "idf denominator df instead of df+1",
      "clean", (s, d) => {
        val tok = fanout(documents(s, d))
          .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
        val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val df = tok.select("doc_id", "token").distinct()
          .groupBy("token").agg(count(lit(1)).as("df"))
        val n = documents(s, d).agg(count(lit(1)).as("n_docs"))
        tf.join(df, "token").crossJoin(broadcast(n))
          .select(col("doc_id"), col("token"), col("tf"),
            r4(col("tf") * log((col("n_docs") + 1).cast(DoubleType) / col("df"))) // BUG
              .as("tfidf"))
          .orderBy("doc_id", "token")
      }),

    Mutant("text_lang_stats", "wrong-denominator",
      "avg chars divides by count(n_chars) instead of count(*)",
      "nulls", (s, d) =>
        documents(s, d).groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            r4(sum(col("n_chars")).cast(DoubleType) / count(col("n_chars"))) // BUG
              .as("avg_chars"),
            countDistinct(col("source")).as("n_sources"))
          .orderBy("lang")),

    Mutant("sim_ivf", "truncated-probe",
      "IVF probes 1 coarse cluster instead of nprobe 2",
      "clean", (s, d) => {
        val dotE = "aggregate(zip_with(%A, %B, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
        def dt(a: String, b: String) = expr(dotE.replace("%A", a).replace("%B", b))
        val base = embeddings(s, d)
          .select(col("vec_id"), col("embedding").as("v"),
            sqrt(dt("embedding", "embedding")).as("n"))
        val cents = embeddings(s, d).filter(col("vec_id") < 8)
          .select(col("vec_id").as("c_id"), col("embedding").as("cv"),
            sqrt(dt("embedding", "embedding")).as("cn"))
        val assign = base.crossJoin(broadcast(cents))
          .withColumn("ccos", dt("v", "cv") / (col("n") * col("cn")))
          .select(col("vec_id"), col("v"), col("n"),
            struct((lit(0d) - round(col("ccos"), 6)).as("nk"), col("c_id")).as("sc"))
          .groupBy("vec_id")
          .agg(first(col("v")).as("v"), first(col("n")).as("n"),
            slice(sort_array(collect_list(col("sc"))), 1, 2).as("top2"))
        val members = assign
          .select(col("vec_id"), col("v"), col("n"),
            expr("top2[0].c_id").as("cluster"))
        val probes = assign.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n").as("qn"),
            explode(expr("transform(slice(top2, 1, 1), t -> t.c_id)")).as("cluster")) // BUG
        val wTop = Window.partitionBy("q_id")
          .orderBy(round(col("cos"), 6).desc, col("vec_id"))
        members.join(probes, Seq("cluster"))
          .filter(col("q_id") =!= col("vec_id"))
          .withColumn("cos", dt("qv", "v") / (col("qn") * col("n")))
          .withColumn("rank", row_number().over(wTop))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("rank"), col("vec_id"), (r4(col("cos")) + lit(0.0)).as("cos_sim"))
          .orderBy("q_id", "rank")
      }),

    Mutant("cluster_kmeans", "truncated-iteration",
      "kmeans reports the seed assignment (both Lloyd iterations dropped)",
      "clean", (s, d) => {
        val dotE = "aggregate(zip_with(%A, %B, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
        def dt(a: String, b: String) = expr(dotE.replace("%A", a).replace("%B", b))
        val e = embeddings(s, d).select(col("vec_id"), col("embedding"),
          dt("embedding", "embedding").as("vv"))
        val c0 = e.filter(col("vec_id") < 4)
          .select(col("vec_id").as("cid"), col("embedding").as("cvec"), col("vv").as("cc"))
        val scored = e.crossJoin(broadcast(c0))
          .withColumn("d2", greatest(
            col("vv") - lit(2.0) * dt("embedding", "cvec") + col("cc"),
            lit(0.0)))
        val w = Window.partitionBy("vec_id").orderBy(round(col("d2"), 6), col("cid"))
        val a0 = scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        a0.groupBy(col("cid").as("cluster_id")) // BUG: no update+reassign
          .agg(count(lit(1)).as("n_vecs"),
            (r4(avg(sqrt(col("d2")))) + lit(0.0)).as("avg_dist"))
          .orderBy("cluster_id")
      }),

    Mutant("graph_degrees", "dropped-distinct",
      "degree counts over raw order-lineitem multiplicity (edge dedup dropped)",
      "clean", (s, d) =>
        orders(s, d).select(col("o_orderkey"), col("o_custkey"))
          .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
            col("l_orderkey") === col("o_orderkey"))
          .filter(col("o_custkey").isNotNull && col("l_suppkey").isNotNull)
          .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
          // BUG: no .distinct()
          .select(explode(array(
            struct(col("src"), col("dst")),
            struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
          .groupBy("src").agg(count(lit(1)).as("degree"))
          .groupBy("degree").agg(count(lit(1)).as("n_vertices"))
          .orderBy("degree")),

    Mutant("graph_bfs", "wrong-source-set",
      "BFS seeded from custkey % 100 = 1 instead of 0",
      "clean", (s, d) => {
        val edges = graft.operators.GraphOps.tradeEdges(s, d)
        val srcs = customer(s, d)
          .filter(col("c_custkey") % 100 === 1) // BUG
          .select((col("c_custkey") * 2).as("node"))
        var visited = srcs.withColumn("dist", lit(0L)).localCheckpoint(true) // §19 B3
        var frontier = visited
        for (k <- 1 to 3) {
          frontier = frontier.join(edges, frontier("node") === edges("src"))
            .select(edges("dst").as("node")).distinct()
            .join(visited, Seq("node"), "left_anti")
            .withColumn("dist", lit(k.toLong))
            .localCheckpoint(true) // §19 B4
          visited = visited.union(frontier)
        }
        visited.groupBy("node").agg(min(col("dist")).as("dist"))
          .orderBy("node")
      }),

    Mutant("anomaly_zscore", "wrong-denominator",
      "z-score uses population variance (divide by n, not n-1)",
      "clean", (s, d) => {
        def dd(c: Column): Column = c.cast(DoubleType)
        def v4(c: Column): Column = round(c, 4).cast(DecimalType(18, 4))
        val ev0 = events(s, d).filter(col("value").isNotNull)
        val stats = ev0.groupBy(col("event_type").as("et")).agg(
          count(lit(1)).as("n"),
          sum(v4(col("value"))).as("sv"),
          sum(round(v4(col("value")) * v4(col("value")), 4).cast(DecimalType(30, 4))).as("svv"))
        val st = stats.select(col("et"), col("n"),
          (dd(col("sv")) / dd(col("n"))).as("mean"),
          sqrt(try_divide(dd(col("svv")) - dd(col("sv")) * dd(col("sv")) / dd(col("n")),
            dd(col("n")))).as("sd")) // BUG: n, not n-1
        ev0.join(broadcast(st), col("event_type") === col("et"))
          .withColumn("z", try_divide(col("value") - col("mean"), col("sd")))
          .filter(abs(col("z")) > 3.0)
          .select(col("event_id"), col("event_type"), col("value"), round(col("z"), 4).as("z"))
          .orderBy("event_id")
      }),

    Mutant("ts_seasonality", "dropped-rounding",
      "cell mean truncates instead of rounding half-up at the 4th decimal",
      "clean", (s, d) =>
        events(s, d)
          .groupBy(col("event_type"), hour(col("ts")).cast("bigint").as("hod"))
          .agg(count(lit(1)).as("n_events"),
            sum(expr("CAST(round(value * 10000, 0) AS BIGINT)")).as("su"))
          .select(col("event_type"), col("hod"), col("n_events"),
            (expr("su div n_events").cast(DoubleType) / lit(10000.0)) // BUG
              .as("avg_value"))
          .orderBy("event_type", "hod")),

    Mutant("nl_between", "wrong-range",
      "translator regression narrows the price band to 150000..290000",
      "clean", (s, d) => graft.dialects.NlToSql.run(s, d,
        "total order price by status where order price is between 150000 and 290000")), // BUG

    Mutant("nl_count_where", "wrong-filter",
      "translator regression answers priority 2-HIGH instead of 1-URGENT",
      "clean", (s, d) => graft.dialects.NlToSql.run(s, d,
        "number of orders by status where priority is 2-HIGH")), // BUG

    Mutant("nl_where_star", "basis-inflating-route",
      "filter routed through a ONE-TO-MANY hop (lineitem fan-out inflates the sum the routed filter must not change)",
      "clean", (s, d) => {
        orders(s, d).createOrReplaceTempView("orders")
        customer(s, d).createOrReplaceTempView("customer")
        lineitem(s, d).createOrReplaceTempView("lineitem")
        s.sql("""SELECT o_orderstatus,
                 CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 4) AS DOUBLE) AS total
                 FROM orders JOIN customer ON o_custkey = c_custkey
                   JOIN lineitem ON l_orderkey = o_orderkey -- BUG: one-to-many
                 WHERE c_mktsegment = 'BUILDING'
                 GROUP BY o_orderstatus ORDER BY o_orderstatus NULLS FIRST""")
      }),

    Mutant("dq_quarantine", "dropped-rule",
      "tax rule missing from the quarantine rule set",
      "clean", (s, d) => {
        val rules = Seq( // BUG: tax_ge_007 dropped
          ("discount_gt_008", "l_discount > 0.08"),
          ("qty_ge_45", "l_quantity >= 45"),
          ("price_gt_90k", "l_extendedprice > 90000"))
        val arms = rules.map { case (n, cond) =>
          when(expr(cond), s"$n,").otherwise("")
        }
        lineitem(s, d)
          .withColumn("reasons", regexp_replace(concat(arms: _*), ",$", ""))
          .filter(col("reasons") =!= "")
          .groupBy("reasons")
          .agg(count(lit(1)).as("n_rows"),
            min(col("l_orderkey")).as("first_orderkey"))
          .orderBy("reasons")
      }),

    Mutant("q_shipping_priority", "wrong-formula",
      "revenue forgets the (1 - discount) factor",
      "clean", (s, d) => {
        // NOTE: a <= vs < order-date boundary mutant on this key SURVIVES
        // the gate — tried first (round 9): boundary-day orders exist on
        // the ties fixture but never reach the top-10 revenue window, so
        // a top-k key needs a defect that perturbs the VALUES it emits,
        // not the membership of rows the limit already truncates away.
        val tsLit = lit("1996-06-15").cast(TimestampType)
        broadcast(customer(s, d).filter(col("c_mktsegment") === "BUILDING"))
          .join(orders(s, d).filter(col("o_orderdate") < tsLit),
            col("c_custkey") === col("o_custkey"))
          .join(lineitem(s, d).filter(col("l_shipdate") > tsLit),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
          .agg(outDec(sum(dec(col("l_extendedprice")))).as("revenue")) // BUG
          .orderBy(col("revenue").desc, col("o_orderdate").asc, col("l_orderkey").asc)
          .limit(10)
      }),

    Mutant("udaf_typed", "wrong-denominator",
      "custom variance aggregator silently replaced by the population variance",
      "clean", (s, d) =>
        lineitem(s, d).groupBy("l_returnflag")
          .agg(
            r4(var_pop(col("l_quantity"))).as("var_welford"), // BUG
            r4(var_samp(col("l_quantity"))).as("var_builtin"))
          .orderBy("l_returnflag"))

    // ---- round 10: value-perturbation class for top-k keys ----------------
    // The round-9 registry NOTE (q_shipping_priority) proved membership
    // defects hide behind a limit: boundary rows never reach the emitted
    // window. Every TakeOrderedAndProject key therefore needs a defect
    // that perturbs the VALUES it emits, not the membership the limit
    // truncates away. One per top-cost top-k key below (q_shipping_priority
    // already carries its value mutant — the dropped discount factor);
    // win_topk_group gets the tie-semantics twin (rank() with the
    // tie-break dropped), its WindowGroupLimit analogue.
    ,

    Mutant("topk", "value-perturbation",
      "projection truncates cents (floor) after ranking — order right, values wrong",
      "clean", (s, d) =>
        orders(s, d).select(col("o_orderkey"),
            floor(col("o_totalprice")).cast(DoubleType).as("o_totalprice")) // BUG
          .orderBy(col("o_totalprice").desc_nulls_last, col("o_orderkey")).limit(10)),

    Mutant("market_basket", "value-perturbation",
      "lift drops the n_orders factor (support confused for lift) — same top-20, scaled values",
      "clean", (s, d) => {
        val items = lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        val okOrders = items.groupBy("ok").agg(count(lit(1)).as("n_items"))
          .filter(col("n_items").between(2, 25)).select("ok")
        val capped = items.join(okOrders, Seq("ok"), "left_semi")
          .localCheckpoint(true) // §19 C1
        val itemN = capped.groupBy("pk").agg(count(lit(1)).as("n_item"))
        val totals = capped.agg(countDistinct(col("ok")).as("n_orders"))
        val pairs = capped.toDF("ok", "a").join(capped.toDF("ok", "b"), "ok")
          .filter(col("a") < col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
          .filter(col("n_ab") >= 2)
        pairs
          .join(itemN.toDF("a", "n_a"), "a")
          .join(itemN.toDF("b", "n_b"), "b")
          .crossJoin(broadcast(totals))
          .withColumn("lift",
            col("n_ab").cast(DoubleType) /
              (col("n_a") * col("n_b")).cast(DoubleType)) // BUG
          .orderBy(col("lift").desc, col("a"), col("b")).limit(20)
          .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
            r4(col("lift")).as("lift"))
      }),

    Mutant("dedup_embed", "wrong-denominator",
      "cosine normalizes by |a|^2 instead of |a||b| — emitted similarities wrong",
      "clean", (s, d) => {
        // brute-force re-derivation (fixture-scale only) with the planted
        // asymmetric-norm defect: the mutant's job is wrong VALUES through
        // the same output contract, not a copy of the production LSH plan
        val e = embeddings(s, d).filter(
          col("embedding").isNotNull && size(col("embedding")) === 64 &&
            expr("array_max(transform(embedding, x -> abs(x))) > 0"))
          .dropDuplicates()
        def vdot(a: String, b: String): Column = expr(
          s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
        val av = e.select(col("vec_id").as("a"), col("embedding").as("av"))
        val bv = e.select(col("vec_id").as("b"), col("embedding").as("bv"))
        val top = av.join(bv, col("a") < col("b"))
          .withColumn("cos",
            vdot("av", "bv") / (sqrt(vdot("av", "av")) * sqrt(vdot("av", "av")))) // BUG
          .select(col("a"), col("b"), col("cos"))
          .orderBy(round(col("cos"), 6).desc, col("a"), col("b")).limit(20)
        val w = Window.orderBy(round(col("cos"), 6).desc, col("a"), col("b"))
        top.withColumn("rank", row_number().over(w))
          .select(col("rank"), col("a"), col("b"), (r4(col("cos")) + lit(0.0)).as("cos_sim"))
          .orderBy("rank")
      }),

    Mutant("text_keyterms", "value-perturbation",
      "IDF smoothing dropped: ln(n/df) instead of ln((n+1)/(df+1))",
      "clean", (s, d) => {
        val tok = documents(s, d)
          .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
        val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val dfq = tok.select("doc_id", "token").distinct()
          .groupBy("token").agg(count(lit(1)).as("df"))
        val n = documents(s, d).agg(count(lit(1)).as("n_docs"))
        val scored = tf.join(dfq, "token").crossJoin(broadcast(n))
          .withColumn("score",
            col("tf") * log(col("n_docs").cast(DoubleType) / col("df"))) // BUG
        val w = Window.partitionBy("doc_id")
          .orderBy(round(col("score"), 6).desc, col("token"))
        scored.withColumn("rn", row_number().over(w).cast(LongType))
          .filter(col("rn") <= 3)
          .select(col("doc_id"), col("rn"), col("token"), r4(col("score")).as("tfidf"))
          .orderBy("doc_id", "rn")
      }),

    Mutant("win_topk_group", "tie-semantics",
      "rank() with the tie-break dropped: tied prices repeat ranks and overflow the top-3",
      "ties", (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc_nulls_last) // BUG: no tie-break
        orders(s, d)
          .withColumn("rn", rank().over(w)) // BUG: rank, not row_number
          .filter(col("rn") <= 3)
          .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
          .orderBy("o_custkey", "rn")
      }),

    Mutant("streaks_bucketed", "dropped-stitch",
      "run-level merge never fires (cross-bucket same-type runs stay split)",
      "clean", (s, d) => {
        val wB = Window.partitionBy("user_id", "__day")
          .orderBy(col("ts"), col("event_id"))
        val runs = events(s, d).withColumn("__day", to_date(col("ts")))
          .withColumn("__chg",
            when(lag(col("event_type"), 1).over(wB) === col("event_type"), lit(0L))
              .otherwise(lit(1L)))
          .withColumn("__isl", sum(col("__chg"))
            .over(wB.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("__day"), col("__isl"), col("event_type"))
          .agg(count(lit(1)).as("__len"))
        val wR = Window.partitionBy("user_id").orderBy(col("__day"), col("__isl"))
        runs
          .withColumn("__chg2", lit(1L)) // BUG: boundary merge disabled
          .withColumn("__isl2", sum(col("__chg2"))
            .over(wR.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "event_type", "__isl2")
          .agg(sum(col("__len")).as("len"))
          .groupBy("user_id", "event_type")
          .agg(max(col("len")).as("max_streak"), count(lit(1)).as("n_streaks"))
          .orderBy("user_id", "event_type")
      }),

    Mutant("text_quality_clf", "wrong-denominator",
      "classifier score normalizes by n instead of 1000*n (1000x scores)",
      "clean", (s, d) => {
        fanout(documents(s, d))
          .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
          .select(col("doc_id"), explode(col("t")).as("tok"))
          .select(col("doc_id"),
            expr(s"${h60Spark("tok")} % 2001 - 1000").as("wt"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"), sum(col("wt")).as("w_sum"))
          .select(col("doc_id"), col("n_tokens"), col("w_sum"),
            (col("w_sum") > 0).as("keep"),
            expr("IF(w_sum >= 0, 1.0D, -1.0D) * " +
              "(CAST((2 * abs(w_sum) * 10000 + n_tokens) " + // BUG: /n not /1000n
              "div (2 * n_tokens) AS DOUBLE) / 10000.0) + 0.0").as("score"))
          .orderBy("doc_id")
      }),

    Mutant("sessionize", "knob-dropped-stitch",
      "auto-switch knob mutated to cutoff 0 (bucketed leg selected at fixture scale) with the boundary stitch disabled - proves the gate kills bucketed-leg defects when the knob routes fixtures there",
      "clean", (s, d) => {
        // the round-13 auto-switch makes `sessionize` a TWO-plan key whose
        // bucketed leg no fixture naturally selects (cutoff 10^6); this
        // mutant is the gate-sensitivity evidence for that leg: force the
        // knob low AND plant the leg's characteristic defect (midnight
        // sessions stay split). The unchanged plain-sessionize oracle must
        // fail it — otherwise the auto-switch hid a defect class.
        val ev = events(s, d)
        val us = unix_micros(col("ts"))
        val wLocal = Window.partitionBy("user_id", "__day")
          .orderBy(col("ts"), col("event_id"))
        val tagged = ev.withColumn("__day", to_date(col("ts")))
          .withColumn("__prev_us", lag(us, 1).over(wLocal))
          .withColumn("__new_local",
            when(col("__prev_us").isNull ||
              us - col("__prev_us") > graft.operators.Windows.sessionGapUs, 1L)
              .otherwise(0L))
          .withColumn("__local_seq", sum(col("__new_local"))
            .over(wLocal.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .drop("__prev_us", "__new_local")
        val sessLocal = tagged
          .groupBy(col("user_id"), col("__day"), col("__local_seq"))
          .agg(min(us).as("__first_us"), max(us).as("__last_us"))
        val wSess = Window.partitionBy("user_id")
          .orderBy(col("__day"), col("__local_seq"))
        val globalMap = sessLocal
          .withColumn("__new_global", lit(1L)) // BUG: boundary stitch disabled
          .withColumn("session_seq", sum(col("__new_global"))
            .over(wSess.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("user_id").as("__m_uid"), col("__day").as("__m_day"),
            col("__local_seq").as("__m_seq"), col("session_seq"))
        tagged.join(globalMap.hint("merge"),
            (tagged("user_id") <=> col("__m_uid")) &&
              (tagged("__day") <=> col("__m_day")) &&
              tagged("__local_seq") === col("__m_seq"))
          .groupBy("user_id", "session_seq")
          .agg(min(col("ts")).as("session_start"),
            max(col("ts")).as("session_end"),
            (max(us) - min(us)).as("duration_us"),
            count(lit(1)).as("n_events"),
            min(struct(col("ts"), col("event_id"), col("event_type")))
              .getField("event_type").as("entry_type"),
            max(struct(col("ts"), col("event_id"), col("event_type")))
              .getField("event_type").as("exit_type"),
            outDec(sum(dec(col("value")))).as("sum_value"))
          .orderBy("user_id", "session_seq")
      }),

    Mutant("event_transitions_bucketed", "dropped-stitch",
      "bucket-boundary transition pairs dropped (within-bucket pairs only)",
      "clean", (s, d) => {
        val wB = Window.partitionBy("user_id", "__day")
          .orderBy(col("ts"), col("event_id"))
        val ev = events(s, d).withColumn("__day", to_date(col("ts")))
        val tr = ev // BUG: the boundary summary/union is gone entirely
          .withColumn("next_type", lead(col("event_type"), 1).over(wB))
          .filter(col("next_type").isNotNull)
          .select(col("event_type").as("from_type"), col("next_type").as("to_type"))
          .groupBy("from_type", "to_type")
          .agg(count(lit(1)).as("n"))
        val tot = tr.groupBy("from_type").agg(sum(col("n")).as("n_from"))
        tr.join(broadcast(tot), "from_type")
          .select(col("from_type"), col("to_type"), col("n"),
            expr("n * 10000 div n_from").as("p_bp"))
          .orderBy("from_type", "to_type")
      }),

    // ---- round 15: the new dialect surfaces, each with its natural
    // defect class ----

    Mutant("gql_object_filter", "post-join-filter",
      "object-relation filter applied ABOVE the left join (inner-join semantics mislabeled as Hasura object semantics: parents whose object missed are silently dropped)",
      "clean", (s, d) => {
        val o = orders(s, d)
          .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 250000)
        val c = customer(s, d).select("c_custkey", "c_name", "c_mktsegment")
        o.join(c, col("o_custkey") === col("c_custkey"), "left")
          .filter(col("c_mktsegment") === "BUILDING") // BUG: above the join
          .orderBy(col("o_orderkey")).limit(60)
          .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
      }),

    Mutant("gql_distinct_on", "limit-off-by-one",
      "distinct_on keeps rn <= 2 instead of exactly the first row per key (duplicate keys in a one-per-key surface)",
      "clean", (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        orders(s, d).filter(col("o_orderstatus") === "O")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2) // BUG: two rows per key
          .select("o_custkey", "o_orderkey", "o_totalprice")
          .orderBy("o_custkey").limit(40)
      }),

    Mutant("nl_qualified_dim", "wrong-join-edge",
      "supplier-qualified nation routed over the CUSTOMER edge (the silent guess the qualifier grammar exists to prevent)",
      "clean", (s, d) => {
        graft.sources.TableRegistry.registerAll(s, d)
        s.sql("""SELECT n_name,
          CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 4) AS DOUBLE) AS total
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY n_name ORDER BY n_name NULLS FIRST""")
      }),

    // ---- round 16: the boolean-combinator / twin-alias / registered-
    // aggregate surfaces, each with its natural defect class ----

    Mutant("gql_filter_bool", "dropped-not",
      "the _not combinator silently ignored (the filter keeps P-status orders the query excludes; ~30 of the top 80 rows are P on the clean fixture)",
      "clean", (s, d) =>
        orders(s, d)
          .filter((col("o_orderpriority") === "1-URGENT" ||
              col("o_orderpriority") === "2-HIGH") &&
            col("o_totalprice") > 200000) // BUG: NOT(o_orderstatus = P) gone
          .orderBy("o_orderkey").limit(80)
          .select("o_orderkey", "o_orderstatus", "o_orderpriority",
            "o_totalprice")),

    Mutant("nl_qualified_pair", "alias-collapse",
      "both qualified output columns read the SUPPLIER alias (the twin nation join exists but the customer qualifier resolves to the wrong alias — the exact collision the aliasing exists to prevent)",
      "clean", (s, d) => {
        graft.sources.TableRegistry.registerAll(s, d)
        s.sql("""SELECT n_sup.n_name AS supplier_nation,
            n_sup.n_name AS customer_nation,
            CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 4) AS DOUBLE) AS total
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n_sup ON s_nationkey = n_sup.n_nationkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n_cust ON c_nationkey = n_cust.n_nationkey
          GROUP BY n_sup.n_name
          ORDER BY supplier_nation NULLS FIRST, customer_nation NULLS FIRST""")
      }),

    Mutant("nl_reg_total_by", "precision-truncation",
      "the registered-dataset measure accumulates at DECIMAL(18,0) — per-row rounding to whole units before the sum (the money-discipline scale dropped)",
      "clean", (s, d) => {
        graft.sources.TableRegistry.registerAll(s, d)
        s.sql("""SELECT event_type,
            CAST(round(sum(CAST(value AS DECIMAL(18,0))), 4) AS DOUBLE) AS total
          FROM events GROUP BY event_type ORDER BY event_type NULLS FIRST""")
      }),

    Mutant("nl_distinct_fanout", "fanout-basis",
      "the EXISTS filter replaced by a row-duplicating join with a NON-distinct count (the exact basis inflation the EXISTS lowering exists to prevent)",
      "clean", (s, d) => {
        graft.sources.TableRegistry.registerAll(s, d)
        s.sql("""SELECT o_orderstatus, count(o_custkey) AS n_distinct
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          WHERE l_returnflag = 'R'
          GROUP BY o_orderstatus ORDER BY o_orderstatus NULLS FIRST""")
      }),

    Mutant("nl_ratio_cross", "single-from-basis",
      "both sums computed over ONE joined FROM — order price summed per LINE ITEM row, inflated by each order's line count (the undefined-row-basis bug the aggregate-then-join form exists to prevent)",
      "clean", (s, d) => {
        graft.sources.TableRegistry.registerAll(s, d)
        s.sql("""SELECT o_orderstatus,
          CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_num,
          CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_den,
          CAST(floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) * 10000.0
                     / nullif(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 0.0))
               AS BIGINT) AS ratio_bp
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY o_orderstatus ORDER BY o_orderstatus NULLS FIRST""")
      }),

    Mutant("nl_qualified_pair_where", "wrong-filter-edge",
      "the buyer-nation filter applied to the SELLER's alias (n_sup instead of n_cust) — the exact mislabeled-edge bug the alias-qualified WHERE exists to prevent",
      "clean", (s, d) => {
        graft.sources.TableRegistry.registerAll(s, d)
        s.sql("""SELECT /*+ BROADCAST(n_sup), BROADCAST(n_cust) */
          n_sup.n_name AS supplier_nation,
          CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 4) AS DOUBLE) AS total
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n_sup ON s_nationkey = n_sup.n_nationkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n_cust ON c_nationkey = n_cust.n_nationkey
          WHERE n_sup.n_name = 'NATION_7'
          GROUP BY n_sup.n_name ORDER BY supplier_nation NULLS FIRST""")
      }),

    Mutant("nl_revenue", "dropped-discount",
      "revenue computed as bare extendedprice — the (1 − discount) factor dropped, inflating every group",
      "clean", (s, d) => {
        graft.sources.TableRegistry.registerAll(s, d)
        s.sql("""SELECT l_returnflag,
          CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 4) AS DOUBLE) AS total
          FROM lineitem GROUP BY l_returnflag
          ORDER BY l_returnflag NULLS FIRST""")
      }),

    Mutant("nl_fix_count_where", "untyped-literal",
      "the fixture raw-column filter compares against the wrong literal (status P instead of F) — the defect class a schema-typed literal catches at translate time",
      "clean", (s, d) => {
        graft.sources.TableRegistry.registerAll(s, d)
        s.sql("SELECT count(*) AS n_rows FROM orders WHERE o_orderstatus = 'P'")
      }),

    Mutant("nl_share_where_not", "existential-negation",
      "the universal NOT EXISTS flipped to existential EXISTS(child <> R) — an order counts as 'not R' if ANY lineitem differs, the exact quantifier bug the fan-out negation lowering exists to prevent",
      "clean", (s, d) => {
        graft.sources.TableRegistry.registerAll(s, d)
        s.sql("""SELECT o_orderstatus,
          count(*) FILTER (WHERE EXISTS (SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_returnflag <> 'R')) AS cnt_not,
          count(*) AS cnt,
          CAST(floor(count(*) FILTER (WHERE EXISTS (SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_returnflag <> 'R')) * 10000.0
                     / nullif(count(*), 0)) AS BIGINT) AS share_bp
          FROM orders GROUP BY o_orderstatus
          ORDER BY o_orderstatus NULLS FIRST""")
      }),

    Mutant("serve_saved_query", "wrong-binding",
      "the saved query runs with a stale param binding (status O instead of the requested F)",
      "clean", (s, d) => {
        graft.dialects.SavedQueries.save(s, graft.dialects.SavedQueries.Entry(
          "mut_priority_rollup", "sql", graft.operators.Dialects.serveSqlParamQuery))
        try {
          val e = graft.dialects.SavedQueries.get("mut_priority_rollup").get
          graft.server.Server.handle(s, graft.server.Server.ServeRequest(
            e.dialect, e.text, d,
            params = Map("status" -> "O", "minTotal" -> 200000))) // BUG: O
        } finally graft.dialects.SavedQueries.delete("mut_priority_rollup")
      })
  )

  def entries: Seq[Entry] = planted ++ mutants
}

/** Verify's write path over MutantQueries' entries, each on its fixture:
  * `outDir/<fixture>/<outName>` and that dir's `oracle_sql.json` (each
  * output mapped to its key's unchanged oracle), plus the manifest
  * scripts/mutcheck.py reads, `outDir/mutants.json`: each entry's output
  * name, key, class and fixture, a planted entry's op, site and edits, and
  * a hand entry's `desc`.
  * Each entry runs on its own request session; a planted key's session
  * gets the `Mutate` rule only after the key is built, so the defect lands
  * only in the plan the result is written from. An entry that throws, or
  * whose rule planted nothing, leaves no output: it did not run.
  *
  * Usage: graft.MutantVerify <cleanDir> <edgeDir> <outDir>, with each
  * EdgeFixtures variant in `<edgeDir>/<fixture>`.
  */
object MutantVerify {
  import MutantQueries.{Entry, Mutant, Planted}

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: graft.MutantVerify <cleanDir> <edgeDir> <outDir>")
    val Array(cleanDir, edgeDir, outDir) = args
    val spark = GraftSession("graft-mutant-verify")
    run(spark, f => if (f == "clean") cleanDir else s"$edgeDir/$f", outDir, MutantQueries.entries)
    spark.stop()
  }

  /** Runs `entries` on the fixture dirs `dirOf` names and writes their
    * outputs and the manifest under `outDir`; returns each planted
    * entry's edits by output name.
    */
  def run(spark: SparkSession, dirOf: String => String, outDir: String,
          entries: Seq[Entry]): Map[String, Seq[String]] = {
    val rules = scala.collection.mutable.Map.empty[String, Mutate]
    for ((fixture, group) <- entries.groupBy(_.fixture)) {
      val d = dirOf(fixture)
      Verify.writeOutputs(spark, s"$outDir/$fixture", group.map(e => (e.outName, () => {
        // a session per entry: no entry reads the views another registered
        // on another fixture
        val sess = GraftSession.request(spark)
        e match {
          case m: Mutant => m.fn(sess, d)
          case p: Planted =>
            val df = SparkEntry.queries(p.key)(sess, d)
            // a key served through Server.handle answers on a request
            // session of its own: the rule goes to the session that plans df
            require(df.sparkSession ne spark, s"${p.key} answered on the root session")
            val rule = rules.getOrElseUpdate(p.outName, Mutate(p.op, p.site))
            df.sparkSession.experimental.extraOptimizations = Seq(rule)
            df
        }
      }, e.key)))
    }
    val planted = entries.collect { case p: Planted => p }
    val edits = planted.map(p => p.outName -> rules.get(p.outName).fold(Seq.empty[String])(_.planted)).toMap
    for (p <- planted if edits(p.outName).isEmpty) {
      System.err.println(s"[mutant] ${p.outName}: Mutate(${p.op}, ${p.site}) planted nothing")
      Verify.rm(new java.io.File(s"$outDir/${p.fixture}/${p.outName}"))
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val manifest = mapper.createArrayNode()
    entries.foreach { e =>
      val o = manifest.addObject().put("name", e.outName).put("key", e.key)
        .put("class", e.clazz).put("fixture", e.fixture)
      e match {
        case p: Planted =>
          val a = o.put("op", p.op).put("site", p.site).putArray("planted")
          edits(p.outName).foreach(a.add(_: String))
        case m: Mutant => o.put("desc", m.desc)
      }
    }
    Files.writeString(Paths.get(outDir, "mutants.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(manifest))
    edits
  }
}
