package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.Tables._

/** Classic BI / customer-analytics operators over the star schema —
  * association pairs, concentration indices, heavy-hitter audits, RFM
  * segmentation (reference intent: karna's "analytics over tabular files",
  * /root/reference/README.md:2).
  *
  * 100 TB design notes sit on each key; the shared principles are
  * (a) fan-out is always bounded by a domain cap applied BEFORE any
  * self-join, (b) rank/quantile work happens over aggregated group tables
  * (|customers|, |parts|), never the raw fact stream, and (c) every
  * emitted double derives from exact integer/decimal aggregates through
  * an expression written identically in both engines.
  */
object Analytics {

  /** Baskets larger than this are dropped before the pair self-join: a
    * k-item basket emits k(k-1)/2 pairs, so one bot/wholesale order with
    * 10^4 items would emit 5·10^7 pairs — the same hot-bucket discipline
    * as dedup_near's shingle-df cap (TextOps.scala). TPC-H baskets are
    * ≤ 7 items, so the fixture result is unchanged; the cap is the
    * 100 TB guard, mirrored verbatim in the oracle.
    */
  private val basketCap = 25

  private def marketBasket(s: SparkSession, dir: String): DataFrame = {
    // market-basket association: for each co-purchased part pair,
    // support count + lift = P(a,b)/(P(a)P(b)). Plan: distinct
    // (order, part) → basket-size cap (semi-join on the already-keyed
    // aggregate) → self-join WITHIN an order key (bounded ≤ C(25,2)
    // pairs/order) → pair-keyed partial-agg shuffle. Item frequencies
    // join pair-keyed (|parts| is corpus-proportional — NOT broadcast);
    // the 1-row order total IS broadcast. Lift is a double quotient of
    // exact int64 products (≤ 2^53), bit-identical cross-engine; final
    // top-20 goes through TakeOrderedAndProject, never a global sort.
    val items = lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val okOrders = items.groupBy("ok").agg(count(lit(1)).as("n_items"))
      .filter(col("n_items").between(2, basketCap)).select("ok")
    // §19 C1: kept, the order-total branch prunes pk and re-scans lineitem
    val capped = items.join(okOrders, Seq("ok"), "left_semi").localCheckpoint(true)
    // (round 17: an in-row posting-list pair explode — the dedup_ngram
    // shape — A/B-measured SLOWER than this co-partitioned, codegen'd
    // self-join; both are linear under the basket cap)
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
        (col("n_ab") * col("n_orders")).cast(DoubleType) /
          (col("n_a") * col("n_b")).cast(DoubleType))
      .orderBy(col("lift").desc, col("a"), col("b")).limit(20)
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        r4(col("lift")).as("lift"))
  }

  private def keySkew(s: SparkSession, dir: String): DataFrame = {
    // heavy-hitter / join-key-skew audit: top-10 part keys by lineitem
    // row count, each with its share of all rows and its ratio to the
    // mean per-key count — the number you read before deciding whether a
    // join needs salting (join_skew_salted is the cure; this is the
    // diagnosis). One partial-agg keyed shuffle to |keys| counts; the
    // 1-row total/mean aggregate broadcasts; top-10 over the COUNTS
    // table (|keys| rows, never the fact stream) via
    // TakeOrderedAndProject. share/skew are double quotients of exact
    // int64s — bit-identical cross-engine.
    val cnts = lineitem(s, dir)
      .groupBy(col("l_partkey").as("key")).agg(count(lit(1)).as("cnt"))
    val tot = cnts.agg(sum(col("cnt")).as("n_rows"), count(lit(1)).as("n_keys"))
    cnts.crossJoin(broadcast(tot))
      .withColumn("share_pct",
        col("cnt").cast(DoubleType) * lit(100.0) / col("n_rows").cast(DoubleType))
      .withColumn("skew_ratio",
        (col("cnt") * col("n_keys")).cast(DoubleType) / col("n_rows").cast(DoubleType))
      .orderBy(col("cnt").desc, col("key")).limit(10)
      .select(col("key"), col("cnt"), r4(col("share_pct")).as("share_pct"),
        r4(col("skew_ratio")).as("skew_ratio"))
  }

  private def gini(s: SparkSession, dir: String): DataFrame = {
    // per-nation Gini coefficient of customer spend — the revenue-
    // concentration index ("do 20% of customers carry 80%?"; abc_analysis
    // is the cumulative-share view, this is the scalar). Rank formula
    // G = 2·Σ(rank·x)/(n·Σx) − (n+1)/n over spend ranked ascending within
    // nation. Plan: orders → per-customer decimal spend (one keyed
    // partial agg), keyed join to customer for the nation, ONE window
    // partitioned by nation (25 partitions of |customers|/25 — at 100 TB
    // the partition key is the segmentation dimension, same shape as
    // anomaly_mad), one final 25-row agg. Σ(rank·x) as DECIMAL(38,4) is
    // exact; the gini double is computed in one identical association in
    // both engines from decimals < 2^53 ulps.
    import org.apache.spark.sql.expressions.Window
    val spend = orders(s, dir).groupBy(col("o_custkey"))
      .agg(sum(dec(col("o_totalprice"))).as("spend"))
    val cust = customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val nat = nation(s, dir).select(col("n_nationkey"), col("n_name"))
    val w = Window.partitionBy("c_nationkey").orderBy(col("spend"), col("o_custkey"))
    val ranked = spend.join(cust, col("o_custkey") === col("c_custkey"))
      .withColumn("rk", row_number().over(w))
    val d = (c: Column) => c.cast(DoubleType)
    ranked.groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend")).as("s0"),
        sum((col("spend") * col("rk")).cast(DecimalType(38, 4))).as("s1"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("n_customers"),
        // +0.0 pins negative zero: an all-equal-spend nation computes
        // gini = -0.0 in DuckDB's round but 0.0 in Spark's (dupkeys
        // edge fixture) — same pinning as the corr/covar family
        (round(lit(2.0) * d(col("s1")) / (d(col("n_customers")) * d(col("s0")))
          - (d(col("n_customers")) + lit(1.0)) / d(col("n_customers")), 6)
          + lit(0.0)).as("gini"))
      // n_customers/gini tie-breaks: several nations can share a NULL (or
      // duplicated) name, and a bare name sort would leave their relative
      // order engine-arbitrary
      .orderBy(col("n_name"), col("n_customers"), col("gini"))
  }

  private def rfm(s: SparkSession, dir: String): DataFrame = {
    // RFM segmentation: per-customer Recency (days since last order, vs
    // the corpus max date), Frequency (#orders), Monetary (decimal spend),
    // each quartiled 1..4 over ALL customers, then rolled up to segment
    // cells. The three global quartiles use globalNtile (Windows.scala) —
    // range-repartition + broadcast offsets, NEVER a single-partition
    // window — over the per-customer aggregate (|customers| rows, not the
    // fact stream). Quartile order ties break on custkey (unique), so the
    // NTILE is cross-engine deterministic; avg metrics are exact decimal /
    // int quotients emitted once as doubles.
    val maxd = orders(s, dir).agg(max(col("o_orderdate")).as("dmax"))
    val base = orders(s, dir).groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_o"),
        count(lit(1)).as("freq"),
        sum(dec(col("o_totalprice"))).as("mon"))
      .crossJoin(broadcast(maxd))
      .withColumn("rec_days", datediff(col("dmax"), col("last_o")))
      .drop("dmax", "last_o")
    val q = Seq(
      ("rec_days", "r_q"), ("freq", "f_q"), ("mon", "m_q")
    ).foldLeft(base) { case (df, (metric, out)) =>
      Windows.globalNtile(df, 4, Seq(col(metric), col("o_custkey")), out)
    }
    q.groupBy("r_q", "f_q", "m_q")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("freq")).as("sf"), sum(col("mon")).as("sm"))
      .select(col("r_q"), col("f_q"), col("m_q"), col("n_customers"),
        // exact half-up quotients (round 12, ratio4/avg4 discipline):
        // int-count and scale-4-decimal numerators both decide 4-dp
        // halves in integer arithmetic, identically in both engines
        ratio4("sf", "n_customers").as("avg_frequency"),
        avg4("sm", "n_customers").as("avg_monetary"))
      .orderBy("r_q", "f_q", "m_q")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "market_basket" -> (marketBasket _),
    "profile_key_skew" -> (keySkew _),
    "agg_gini" -> (gini _),
    "rfm_segments" -> (rfm _),

    "ts_seasonality" -> ((s, dir) => {
      // hour-of-day seasonality profile per event type — the diurnal
      // fingerprint read before setting stream watermarks or anomaly
      // baselines (a 3 a.m. spike is an incident; the same spike at noon
      // is lunch). ONE partial-aggregating keyed shuffle; output bounded
      // by |types|·24 forever. The mean is rounded ENTIRELY in integer
      // arithmetic (1e-4-unit sums, half-up at the 5th digit via
      // +5-then-div) — round(double, 4) at the cell mean hit an exact
      // half-point at sf0.001 where the engines' double-round semantics
      // diverge (the text_keyterms/udf_sql trap, caught by the 3-sf
      // gate); integer ops cannot. Values must be NON-NEGATIVE for the
      // +5-then-div half-up to mean round-half-up (on a negative sum the
      // +5 adjustment lands on the wrong side; both engines' integer
      // division truncates toward zero — verified empirically, DuckDB
      // 1.0.0 `-7 // 2 = -3` — so the engines would still AGREE, but the
      // result would no longer be half-up rounding). The fixture has
      // reshaped between rounds before, so the assumption
      // is ENFORCED in-plan: a negative value raises in the same pass
      // (min folded into the existing agg, zero extra shuffles) instead
      // of silently producing engine-divergent hashes.
      events(s, dir)
        .groupBy(col("event_type"), hour(col("ts")).cast("bigint").as("hod"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(round(value * 10000, 0) AS BIGINT)")).as("su"),
          min(col("value")).as("_min_v"))
        .select(col("event_type"), col("hod"), col("n_events"),
          when(col("_min_v") < 0, raise_error(lit(
              "ts_seasonality: negative events.value — the integer " +
              "half-up rounding requires value >= 0; fixture changed?"))
            .cast(DoubleType))
          .otherwise(
            expr("((su * 10) div n_events + 5) div 10").cast(DoubleType)
              / lit(10000.0)).as("avg_value"))
        .orderBy("event_type", "hod")
    }),

    "ts_pct_change" -> ((s, dir) => {
      // month-over-month revenue growth per nation — the trend panel
      // every revenue dashboard opens with. Monthly totals are exact
      // decimal sums (one keyed partial agg, output bounded by
      // |nations|·|months|); lag runs per-nation (the window key is the
      // series key — parallelizes across nations at any scale); the
      // growth rate is one double expression over exact decimals,
      // written identically in both engines. First month per nation is
      // NULL by construction (no prior period).
      import org.apache.spark.sql.expressions.Window
      val nat = nation(s, dir).select(col("n_nationkey"), col("n_name"))
      val monthly = orders(s, dir)
        .join(customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        // trunc() emits DateType — DuckDB's date_trunc('month', ts) is a
        // DATE, and Spark's date_trunc is a TIMESTAMP (schema mismatch)
        .groupBy(col("n_name"), trunc(col("o_orderdate"), "month").as("mth"))
        .agg(sum(dec(col("o_totalprice"))).as("t"))
      val w = Window.partitionBy("n_name").orderBy("mth")
      monthly.withColumn("p", lag(col("t"), 1).over(w))
        .select(col("n_name"), col("mth"),
          outDec(col("t")).as("total"),
          // signed exact half-up (round 12): Δ/p·100 decided in scaled
          // integers via sign decomposition (HALF_UP = away from zero;
          // Spark div truncates toward zero and DuckDB // floors, so the
          // quotient runs on |Δ| only). Domain: |Δ|·2·10¹⁰ < 2⁶³ ⇒
          // |Δ| < 4.6·10⁸ money units per (nation, month) step — orders
          // of magnitude above any fixture; + 0.0 clears the -0.0 a
          // negative sign times a zero quotient would leave.
          expr("""IF(t >= p, 1.0D, -1.0D) *
            (CAST((2 * abs(CAST((t - p) * 10000 AS BIGINT)) * 1000000
                   + CAST(p * 10000 AS BIGINT))
                  div (2 * CAST(p * 10000 AS BIGINT)) AS DOUBLE) / 10000.0)
            + 0.0""").as("pct_change"))
        .orderBy("n_name", "mth")
    }),

    "agg_hhi" -> ((s, dir) => {
      // supplier-concentration histogram: per part, the Herfindahl-
      // Hirschman index of supplier revenue shares (HHI = Σ shareᵢ² —
      // 1/k for k equal suppliers, 1.0 for sole-source), bucketed into
      // deciles — single-source risk at a glance. The algebra avoids
      // materializing shares: HHI = Σrᵢ²/ (Σrᵢ)², with rᵢ exact
      // whole-unit BIGINTs (deterministically rounded decimals — both
      // engines' round-half-away agree), so the double quotient is
      // bit-identical cross-engine. Two keyed partial aggs (part,supp →
      // part) + one ≤11-group rollup; squares stay < 2⁶³ through sf100
      // (rᵢ ≤ ~4·10⁸ ⇒ rᵢ² ≤ 1.6·10¹⁷; beyond that, scale rᵢ to
      // thousands — same determinism argument).
      val rev = lineitem(s, dir)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(dec(col("l_extendedprice"))).as("r"))
        .select(col("l_partkey"),
          round(col("r"), 0).cast("bigint").as("ru"))
      val hhi = rev.groupBy("l_partkey")
        .agg(sum(col("ru") * col("ru")).as("ssq"),
          sum(col("ru")).as("tot"))
        .withColumn("hhi", r4(col("ssq").cast(DoubleType) /
          (col("tot").cast(DoubleType) * col("tot").cast(DoubleType))))
      hhi.groupBy(floor(col("hhi") * 10).cast("bigint").as("hhi_decile"))
        .agg(count(lit(1)).as("n_parts"),
          r4(min(col("hhi"))).as("min_hhi"),
          r4(max(col("hhi"))).as("max_hhi"))
        .orderBy("hhi_decile")
    }),

    "cohort_ltv" -> ((s, dir) => {
      // acquisition-cohort lifetime value: customers grouped by the year
      // of their FIRST order; per cohort, customer count, total revenue
      // to date, and average LTV — the panel behind "are newer cohorts
      // worth less?". Plan: one customer-keyed partial agg (first-order
      // year + per-customer decimal spend in the same pass — no second
      // scan), then a |years|-group rollup. LTV is the exact decimal
      // total over an int64 count, cast once.
      val per = orders(s, dir).groupBy(col("o_custkey"))
        .agg(min(year(col("o_orderdate"))).cast("bigint").as("cohort_year"),
          sum(dec(col("o_totalprice"))).as("spend"),
          count(lit(1)).as("n_orders"))
      per.groupBy("cohort_year")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("n_orders")).as("n_orders"),
          outDec(sum(col("spend"))).as("total_revenue"),
          avg4("sum(spend)", "count(1)").as("avg_ltv"))
        .orderBy("cohort_year")
    }),

    "repeat_rate" -> ((s, dir) => {
      // repeat-purchase rate by market segment: share of customers with
      // ≥2 orders — the retention scalar next to cohort_ltv's panel.
      // Per-customer order counts (keyed partial agg), keyed join to the
      // customer dim for the segment (|customers| rows — NOT broadcast),
      // then a 5-group rollup. The rate is an exact int64 quotient in
      // basis points plus a rounded double for reading.
      val per = orders(s, dir).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      per.join(customer(s, dir).select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          sum(when(col("n_orders") >= 2, 1L).otherwise(0L)).as("n_repeat"))
        .withColumn("repeat_bp", expr("(n_repeat * 10000) div n_customers"))
        .withColumn("repeat_rate", ratio4("n_repeat", "n_customers"))
        .orderBy("c_mktsegment")
    }),

    "order_size_hist" -> ((s, dir) => {
      // basket-size distribution: how many orders have k line items —
      // the first sanity read on the fact table (and the boundedness
      // evidence market_basket's cap relies on). Two keyed partial aggs
      // (order → size, size → count); output bounded by |distinct
      // sizes|, never orders.
      lineitem(s, dir).groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"))
        .groupBy("n_lines").agg(count(lit(1)).as("n_orders"))
        .orderBy("n_lines")
    }),

    "aging_buckets" -> ((s, dir) => {
      // open-order aging: orders not yet finalized (status 'O'),
      // bucketed by days outstanding relative to the corpus max date —
      // the receivables-style aging report. Bucket edges are integer
      // day thresholds on an exact datediff, so membership can never
      // flip on rounding; the 1-row max date broadcasts; one 4-group
      // rollup. Buckets labeled with a sort-stable prefix.
      val maxd = orders(s, dir).agg(max(col("o_orderdate")).as("dmax"))
      orders(s, dir).filter(col("o_orderstatus") === "O")
        .crossJoin(broadcast(maxd))
        .withColumn("age_days", datediff(col("dmax"), col("o_orderdate")))
        .withColumn("bucket",
          when(col("age_days") <= 365, "a_0_365")
            .when(col("age_days") <= 730, "b_366_730")
            .when(col("age_days") <= 1460, "c_731_1460")
            .otherwise("d_over_1460"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"),
          outDec(sum(dec(col("o_totalprice")))).as("open_value"),
          min(col("age_days")).cast("bigint").as("min_age"),
          max(col("age_days")).cast("bigint").as("max_age"))
        .orderBy("bucket")
    }),

    "concurrency_peak" -> ((s, dir) => {
      // peak concurrent sessions — the capacity number behind "how many
      // users were on at once?": sessionize's intervals become ±1 delta
      // events whose GLOBAL running sum is the live-session count; its
      // max is the peak. The global cumsum is Windows.globalRunning —
      // the shared two-phase scaffold (range-partition the deltas on
      // their total order, local per-partition cumsum, broadcast
      // per-partition prefix offsets: #partitions rows, never data). Equal-timestamp ties order +1 before −1 (delta DESC), so
      // touching intervals count as overlapping — and the (us, delta,
      // user, seq) order is total, so the peak and its first-attained
      // time are deterministic. Output is ONE row. The session intervals
      // come from Windows.sessionTag — the ONE session definition,
      // shared with the sessionize key so the two cannot drift.
      val us = unix_micros(col("ts"))
      val sess = Windows.sessionTag(events(s, dir))
        .groupBy("user_id", "session_seq")
        .agg(min(us).as("s_us"), max(us).as("e_us"))
        .localCheckpoint(true) // §19 C2: kept, n_sessions runs in a later job than the deltas
      val deltas = sess.select(col("user_id"), col("session_seq"),
          col("s_us").as("us"), lit(1L).as("delta"))
        .unionByName(sess.select(col("user_id"), col("session_seq"),
          col("e_us").as("us"), lit(-1L).as("delta")))
      val ord = Seq(col("us"), col("delta").desc, col("user_id"), col("session_seq"))
      val run = Windows.globalRunning(deltas, ord, col("delta"), "c")._1
        .localCheckpoint(true) // §19 C3: kept, measured slower without it
      val peak = run.agg(max(col("c")).as("peak"))
      val at = run.crossJoin(broadcast(peak)).filter(col("c") === col("peak"))
        .agg(min(col("us")).as("at_us"))
      val nSess = sess.agg(count(lit(1)).as("n_sessions"))
      peak.crossJoin(at).crossJoin(nSess)
        .select(col("peak").as("peak_concurrency"),
          timestamp_micros(col("at_us")).as("at_ts"),
          col("n_sessions"))
    }),

    "ts_interarrival" -> ((s, dir) => {
      // inter-arrival-time profile per event type — the arrival-rate
      // panel read before sizing stream watermarks and state stores
      // (median gap sets the expected cadence; max gap bounds the
      // lateness a watermark must tolerate). Gaps form per (user, type)
      // series — HIGH-cardinality window keys, parallelizes at any
      // scale (ts_autocorr's shape) — pooled per type. Mean is an exact
      // µs-BIGINT quotient; the median is the LOWER median selected by
      // rank (an exact element — the anomaly_mad discipline, identical
      // in both engines where interpolating medians differ by ulps).
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      val us = unix_micros(col("ts"))
      val gaps = events(s, dir)
        .withColumn("gap_us", us - lag(us, 1).over(w))
        .filter(col("gap_us").isNotNull)
      val wRank = Window.partitionBy("event_type")
        .orderBy(col("gap_us"), col("event_id"))
      val wN = Window.partitionBy("event_type")
      val med = gaps
        .withColumn("rn", row_number().over(wRank))
        .withColumn("n", count(lit(1)).over(wN))
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("event_type"), col("gap_us").as("median_gap_us"))
      gaps.groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"),
          expr("sum(gap_us) div count(1)").as("mean_gap_us"),
          max(col("gap_us")).as("max_gap_us"))
        .join(broadcast(med), "event_type")
        .select(col("event_type"), col("n_gaps"), col("mean_gap_us"),
          col("median_gap_us"), col("max_gap_us"))
        .orderBy("event_type")
    }),

    "engagement_dau_wau" -> ((s, dir) => {
      // DAU / trailing-7-day WAU / stickiness per day — the engagement
      // panel every product dashboard opens with. WAU avoids windowed
      // COUNT(DISTINCT) (rejected by both engines) and per-day set state:
      // each (user, active-day) pair projects onto the ≤7 trailing days
      // it keeps the user "weekly-active" for — a BOUNDED 7× explode of
      // the deduped (user, day) table (≪ events), then one distinct +
      // one keyed count. Stickiness = DAU/WAU, exact int64 quotient;
      // output restricted to observed days by the dau join.
      val ud = events(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
        .localCheckpoint(true) // §19 C4: kept, an inferred null filter splits the two branches
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"),
          explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
        .distinct()
        .groupBy("day").agg(count(lit(1)).as("wau"))
      dau.join(wau, "day")
        .withColumn("stickiness", ratio4("dau", "wau"))
        .orderBy("day")
    }),

    "ts_rate_spike" -> ((s, dir) => {
      // volume-anomaly screen: per (event_type, day) counts z-scored
      // against that type's daily distribution — the pager alert behind
      // "did traffic spike?" (anomaly_zscore reads VALUES; this reads
      // RATES). Counts are exact int64s, so per-type mean/sd derive from
      // exact Σ/Σ² — no decimal staging needed — and the z expression is
      // written identically in both engines. Two keyed partial aggs
      // (events → day cells → type stats) + one broadcast-back join;
      // output bounded by |types|·|days|.
      val daily = events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"))
      val d2 = (c: Column) => c.cast(DoubleType)
      val st = daily.groupBy(col("event_type").as("et"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("n_events")).as("sv"),
          sum(col("n_events") * col("n_events")).as("svv"))
        .select(col("et"),
          (d2(col("sv")) / d2(col("n_days"))).as("mean"),
          // try_divide: a 1-day type has no sample variance and a
          // constant-rate type has sd 0 — both are NULL z in DuckDB
          // (x/0 → NULL) where ANSI's Divide would error the job
          sqrt(try_divide(
            d2(col("svv")) - d2(col("sv")) * d2(col("sv")) / d2(col("n_days")),
            d2(col("n_days")) - lit(1.0))).as("sd"))
      daily.join(broadcast(st), col("event_type") === col("et"))
        .withColumn("z", try_divide(d2(col("n_events")) - col("mean"), col("sd")))
        .select(col("event_type"), col("day"), col("n_events"),
          (round(col("z"), 4) + lit(0.0)).as("z"),
          (abs(col("z")) > 2.0).as("is_spike"))
        .orderBy("event_type", "day")
    }),

    "events_bot_score" -> ((s, dir) => {
      // bot-likeness leaderboard: a composite of type-dominance (a bot
      // hammers one endpoint) and event rate, in EXACT integer units —
      // dominance in basis points of the user's top event type, rate in
      // centi-events/day over the user's active span. The corpus-cleaning
      // read before training on behavioral data (the dedup family's
      // "drop the boilerplate" applied to actors). ONE fact scan: the
      // active-span min/max ride the (user,type) cells pass (min of
      // mins / max of maxes in the user rollup — the cohort_ltv
      // same-pass discipline), then a top-10 via TakeOrderedAndProject
      // over the |users| table; every emitted number is an int64, so
      // ranking can never diverge cross-engine. The n_events·8.64e12
      // product overflows int64 at ~1.07M events per user — exactly the
      // volume a real bot reaches — so it is computed in DECIMAL(38,0)
      // (Spark `div` on decimals is exact integral division; the oracle
      // mirrors with HUGEINT `//`); only the small quotient (centi-
      // events/day) must fit the int64 output.
      val cells = events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"),
          min(unix_micros(col("ts"))).as("mn_us"),
          max(unix_micros(col("ts"))).as("mx_us"))
      cells.groupBy("user_id")
        .agg(sum(col("c")).as("n_events"),
          count(lit(1)).as("n_types"),
          max(col("c")).as("top_type_n"),
          (max(col("mx_us")) - min(col("mn_us"))).as("span_us"))
        .filter(col("span_us") > 0)
        .withColumn("dom_bp", expr("(top_type_n * 10000) div n_events"))
        .withColumn("epd_c",
          expr("(CAST(n_events AS DECIMAL(38,0)) * 8640000000000) div span_us"))
        .withColumn("bot_score", col("dom_bp") + col("epd_c"))
        .orderBy(col("bot_score").desc, col("user_id")).limit(10)
        .select(col("user_id"), col("n_events"), col("n_types"),
          col("dom_bp"), col("epd_c"), col("bot_score"))
    }),

    "lead_time_stats" -> ((s, dir) => {
      // order-to-ship lead time per supplier — the fulfillment SLA
      // panel. The orders⋈lineitem equi-join is the canonical fact-fact
      // shuffle (both sides keyed on orderkey — bucketing co-locates it
      // at scale, join_bucketed shows the exchange-free form); lead days
      // are exact integer datediffs (NEGATIVE leads exist in this
      // synthetic fixture — ship/order dates are drawn independently —
      // so a per-supplier SUM can go negative; round 13 ADVICE: ratio4's
      // div/floor forms diverge on negative numerators, so the mean goes
      // through the signed sign-decomposition form, sratio4).
      val j = lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("lead_days",
          datediff(col("l_shipdate"), col("o_orderdate")).cast("bigint"))
      j.groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_lines"),
          sratio4("sum(lead_days)", "count(1)").as("avg_lead_days"),
          min(col("lead_days")).as("min_lead"),
          max(col("lead_days")).as("max_lead"))
        .orderBy("l_suppkey")
    })
  )

  val oracles: Map[String, String] = Map(
    "market_basket" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         okord AS (SELECT ok FROM items GROUP BY ok
                   HAVING count(*) BETWEEN 2 AND $basketCap),
         capped AS (SELECT i.* FROM items i SEMI JOIN okord USING (ok)),
         itemn AS (SELECT pk, count(*) AS n_item FROM capped GROUP BY pk),
         tot AS (SELECT count(DISTINCT ok) AS n_orders FROM capped),
         pairs AS (SELECT x.pk AS a, y.pk AS b, count(*) AS n_ab
                   FROM capped x JOIN capped y ON x.ok = y.ok AND x.pk < y.pk
                   GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT a, b, n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
           round(CAST(n_ab * n_orders AS DOUBLE)
                 / CAST(ia.n_item * ib.n_item AS DOUBLE), 4) AS lift
         FROM pairs
         JOIN itemn ia ON pairs.a = ia.pk
         JOIN itemn ib ON pairs.b = ib.pk
         CROSS JOIN tot
         ORDER BY CAST(n_ab * n_orders AS DOUBLE)
                  / CAST(ia.n_item * ib.n_item AS DOUBLE) DESC NULLS LAST, a NULLS FIRST, b NULLS FIRST
         LIMIT 20""",
    "profile_key_skew" ->
      """WITH c AS (SELECT l_partkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1),
         t AS (SELECT sum(cnt) AS n_rows, count(*) AS n_keys FROM c)
         SELECT key, cnt,
           round(CAST(cnt AS DOUBLE) * 100.0 / CAST(n_rows AS DOUBLE), 4) AS share_pct,
           round(CAST(cnt * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE), 4) AS skew_ratio
         FROM c CROSS JOIN t
         ORDER BY cnt DESC NULLS LAST, key NULLS FIRST LIMIT 10""",
    "agg_gini" ->
      """WITH sp AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS spend
                     FROM orders GROUP BY 1),
         rk AS (SELECT c_nationkey, spend,
                  row_number() OVER (PARTITION BY c_nationkey
                    ORDER BY spend NULLS FIRST, o_custkey NULLS FIRST) AS rk
                FROM sp JOIN customer ON o_custkey = c_custkey),
         g AS (SELECT c_nationkey, count(*) AS n_customers,
                 sum(spend) AS s0,
                 sum(CAST(spend * rk AS DECIMAL(38,4))) AS s1
               FROM rk GROUP BY 1)
         SELECT n_name, n_customers,
           round(2.0 * CAST(s1 AS DOUBLE)
                   / (CAST(n_customers AS DOUBLE) * CAST(s0 AS DOUBLE))
                 - (CAST(n_customers AS DOUBLE) + 1.0)
                   / CAST(n_customers AS DOUBLE), 6) + 0.0 AS gini
         FROM g JOIN nation ON c_nationkey = n_nationkey
         ORDER BY n_name NULLS FIRST, n_customers NULLS FIRST, gini NULLS FIRST""",
    "rfm_segments" ->
      s"""WITH dm AS (SELECT max(o_orderdate) AS dmax FROM orders),
         b AS (SELECT o_custkey,
                 date_diff('day', CAST(max(o_orderdate) AS DATE),
                           CAST((SELECT dmax FROM dm) AS DATE)) AS rec_days,
                 count(*) AS freq,
                 sum(CAST(o_totalprice AS DECIMAL(18,4))) AS mon
               FROM orders GROUP BY 1),
         q AS (SELECT o_custkey, freq, mon,
                 ntile(4) OVER (ORDER BY rec_days NULLS FIRST, o_custkey NULLS FIRST) AS r_q,
                 ntile(4) OVER (ORDER BY freq NULLS FIRST, o_custkey NULLS FIRST) AS f_q,
                 ntile(4) OVER (ORDER BY mon NULLS FIRST, o_custkey NULLS FIRST) AS m_q
               FROM b)
         SELECT r_q, f_q, m_q, count(*) AS n_customers,
           ${ratio4Duck("sum(freq)", "count(*)")} AS avg_frequency,
           ${avg4Duck("sum(mon)", "count(*)")} AS avg_monetary
         FROM q GROUP BY 1, 2, 3
         ORDER BY r_q NULLS FIRST, f_q NULLS FIRST, m_q NULLS FIRST""",
    "ts_seasonality" ->
      """SELECT event_type, hour(ts) AS hod, count(*) AS n_events,
         CAST((sum(CAST(round(value * 10000, 0) AS BIGINT)) * 10 // count(*) + 5) // 10
              AS DOUBLE) / 10000.0 AS avg_value
         FROM events GROUP BY 1, 2
         ORDER BY event_type NULLS FIRST, hod NULLS FIRST""",
    "ts_pct_change" ->
      """WITH m AS (
           SELECT n_name, date_trunc('month', o_orderdate) AS mth,
             sum(CAST(o_totalprice AS DECIMAL(18,4))) AS t
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY 1, 2),
         l AS (SELECT n_name, mth, t,
             lag(t, 1) OVER (PARTITION BY n_name ORDER BY mth NULLS FIRST) AS p
           FROM m)
         SELECT n_name, mth,
           CAST(round(t, 4) AS DOUBLE) AS total,
           (CASE WHEN t >= p THEN 1.0 ELSE -1.0 END) *
             (CAST((2 * abs(CAST((t - p) * 10000 AS BIGINT)) * 1000000
                    + CAST(p * 10000 AS BIGINT))
                   // (2 * CAST(p * 10000 AS BIGINT)) AS DOUBLE) / 10000.0)
             + 0.0 AS pct_change
         FROM l ORDER BY n_name NULLS FIRST, mth NULLS FIRST""",
    "agg_hhi" ->
      """WITH rev AS (
           SELECT l_partkey,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 0) AS BIGINT) AS ru
           FROM lineitem GROUP BY l_partkey, l_suppkey),
         h AS (
           SELECT l_partkey,
             round(CAST(sum(ru * ru) AS DOUBLE)
                   / (CAST(sum(ru) AS DOUBLE) * CAST(sum(ru) AS DOUBLE)), 4) AS hhi
           FROM rev GROUP BY 1)
         SELECT CAST(floor(hhi * 10) AS BIGINT) AS hhi_decile,
           count(*) AS n_parts,
           round(min(hhi), 4) AS min_hhi,
           round(max(hhi), 4) AS max_hhi
         FROM h GROUP BY 1 ORDER BY hhi_decile NULLS FIRST""",
    "cohort_ltv" ->
      s"""WITH per AS (
           SELECT o_custkey,
             CAST(min(year(o_orderdate)) AS BIGINT) AS cohort_year,
             sum(CAST(o_totalprice AS DECIMAL(18,4))) AS spend,
             count(*) AS n_orders
           FROM orders GROUP BY 1)
         SELECT cohort_year, count(*) AS n_customers,
           CAST(sum(n_orders) AS BIGINT) AS n_orders,
           CAST(round(sum(spend), 4) AS DOUBLE) AS total_revenue,
           ${avg4Duck("sum(spend)", "count(*)")} AS avg_ltv
         FROM per GROUP BY 1 ORDER BY cohort_year NULLS FIRST""",
    "repeat_rate" ->
      s"""WITH per AS (
           SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1)
         SELECT c_mktsegment, count(*) AS n_customers,
           CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat,
           CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS repeat_bp,
           ${ratio4Duck("sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)",
                        "count(*)")} AS repeat_rate
         FROM per JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY c_mktsegment NULLS FIRST""",
    "order_size_hist" ->
      """WITH per AS (
           SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY 1)
         SELECT n_lines, count(*) AS n_orders
         FROM per GROUP BY 1 ORDER BY n_lines NULLS FIRST""",
    "aging_buckets" ->
      """WITH dm AS (SELECT max(o_orderdate) AS dmax FROM orders),
         a AS (SELECT o_totalprice,
             date_diff('day', CAST(o_orderdate AS DATE), CAST(dmax AS DATE)) AS age_days
           FROM orders CROSS JOIN dm WHERE o_orderstatus = 'O')
         SELECT CASE WHEN age_days <= 365 THEN 'a_0_365'
                     WHEN age_days <= 730 THEN 'b_366_730'
                     WHEN age_days <= 1460 THEN 'c_731_1460'
                     ELSE 'd_over_1460' END AS bucket,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 4) AS DOUBLE) AS open_value,
           CAST(min(age_days) AS BIGINT) AS min_age,
           CAST(max(age_days) AS BIGINT) AS max_age
         FROM a GROUP BY 1 ORDER BY bucket NULLS FIRST""",
    "concurrency_peak" ->
      """WITH marked AS (
           SELECT user_id, ts, event_id,
             lag(epoch_us(ts)) OVER w AS prev_us
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)),
         flagged AS (
           SELECT *, CASE WHEN prev_us IS NULL
                            OR epoch_us(ts) - prev_us > 14400000000 THEN 1 ELSE 0 END AS new_s
           FROM marked),
         numbered AS (
           SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
           FROM flagged),
         sess AS (
           SELECT user_id, session_seq,
             min(epoch_us(ts)) AS s_us, max(epoch_us(ts)) AS e_us
           FROM numbered GROUP BY 1, 2),
         deltas AS (
           SELECT user_id, session_seq, s_us AS us, 1 AS delta FROM sess
           UNION ALL
           SELECT user_id, session_seq, e_us AS us, -1 AS delta FROM sess),
         run AS (
           SELECT us, CAST(sum(delta) OVER (
               ORDER BY us NULLS FIRST, delta DESC NULLS LAST, user_id NULLS FIRST, session_seq NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
           FROM deltas),
         pk AS (SELECT max(c) AS peak FROM run),
         at AS (SELECT min(us) AS at_us FROM run JOIN pk ON c = peak),
         ns AS (SELECT count(*) AS n_sessions FROM sess)
         SELECT CAST(peak AS BIGINT) AS peak_concurrency,
           make_timestamp(at_us) AS at_ts,
           n_sessions
         FROM pk CROSS JOIN at CROSS JOIN ns""",
    "ts_interarrival" ->
      """WITH g AS (
           SELECT event_type, event_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS gap_us
           FROM events),
         gaps AS (SELECT * FROM g WHERE gap_us IS NOT NULL),
         r AS (SELECT event_type, gap_us,
             row_number() OVER (PARTITION BY event_type
               ORDER BY gap_us NULLS FIRST, event_id NULLS FIRST) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM gaps),
         med AS (SELECT event_type, gap_us AS median_gap_us
                 FROM r WHERE rn = (n + 1) // 2)
         SELECT g2.event_type, count(*) AS n_gaps,
           CAST(sum(g2.gap_us) // count(*) AS BIGINT) AS mean_gap_us,
           CAST(any_value(med.median_gap_us) AS BIGINT) AS median_gap_us,
           CAST(max(g2.gap_us) AS BIGINT) AS max_gap_us
         FROM gaps g2 JOIN med USING (event_type)
         GROUP BY 1 ORDER BY event_type NULLS FIRST""",
    "engagement_dau_wau" ->
      s"""WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
         dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
         ex AS (SELECT DISTINCT user_id, day + CAST(t.i AS INTEGER) AS day
                FROM ud, range(0, 7) t(i)),
         wau AS (SELECT day, count(*) AS wau FROM ex GROUP BY 1)
         SELECT dau.day, dau, wau,
           ${ratio4Duck("dau", "wau")} AS stickiness
         FROM dau JOIN wau ON dau.day = wau.day
         ORDER BY dau.day NULLS FIRST""",
    "ts_rate_spike" ->
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
           FROM events GROUP BY 1, 2),
         st AS (
           SELECT event_type AS et, count(*) AS n_days,
             sum(n_events) AS sv, sum(n_events * n_events) AS svv
           FROM daily GROUP BY 1),
         z AS (
           SELECT event_type, day, n_events,
             (CAST(n_events AS DOUBLE)
              - CAST(sv AS DOUBLE) / CAST(n_days AS DOUBLE))
             / sqrt((CAST(svv AS DOUBLE)
                     - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n_days AS DOUBLE))
                    / (CAST(n_days AS DOUBLE) - 1.0)) AS zv
           FROM daily JOIN st ON event_type = et)
         SELECT event_type, day, n_events,
           round(zv, 4) + 0.0 AS z, abs(zv) > 2.0 AS is_spike
         FROM z ORDER BY event_type NULLS FIRST, day NULLS FIRST""",
    "events_bot_score" ->
      """WITH cells AS (
           SELECT user_id, event_type, count(*) AS c,
             min(epoch_us(ts)) AS mn_us, max(epoch_us(ts)) AS mx_us
           FROM events GROUP BY 1, 2),
         u AS (
           SELECT user_id,
             CAST(sum(c) AS BIGINT) AS n_events,
             count(*) AS n_types,
             CAST(max(c) AS BIGINT) AS top_type_n,
             max(mx_us) - min(mn_us) AS span_us
           FROM cells GROUP BY 1),
         sc AS (
           SELECT user_id, n_events, n_types,
             CAST(top_type_n * 10000 // n_events AS BIGINT) AS dom_bp,
             CAST(CAST(n_events AS HUGEINT) * 8640000000000 // span_us AS BIGINT)
               AS epd_c
           FROM u WHERE span_us > 0)
         SELECT user_id, n_events, n_types, dom_bp, epd_c,
           dom_bp + epd_c AS bot_score
         FROM sc
         ORDER BY dom_bp + epd_c DESC NULLS LAST, user_id NULLS FIRST LIMIT 10""",
    "lead_time_stats" ->
      s"""WITH j AS (
           SELECT l_suppkey,
             CAST(date_diff('day', CAST(o_orderdate AS DATE),
                            CAST(l_shipdate AS DATE)) AS BIGINT) AS lead_days
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
         SELECT l_suppkey, count(*) AS n_lines,
           ${sratio4Duck("sum(lead_days)", "count(*)")} AS avg_lead_days,
           min(lead_days) AS min_lead,
           max(lead_days) AS max_lead
         FROM j GROUP BY 1 ORDER BY l_suppkey NULLS FIRST"""
  )
}
