package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._

/** §2.4 aggregations (SURVEY.md). Money sums run the DECIMAL discipline
  * (§7.1.1) so results are exact and partition-order-free; unavoidably-float
  * aggregates (stddev/corr/percentile) are ≈-rows rounded to 4 places in
  * both engines (§7.1.2).
  */
object Aggregates {

  /** TPC-H-Q1-shaped flagship (SURVEY.md §7.2): filter → multi-key group →
    * decimal sums → sort. This is also `SparkEntry.entry`.
    *
    * Scale note: single shuffle on the two low-cardinality group keys with
    * map-side partial aggregation (HashAggregateExec partial/final) — the
    * canonical 100TB-safe shape: reduce cardinality before the exchange.
    */
  def flagship(s: SparkSession, d: String): DataFrame = {
    val disc1 = lit(1).cast(Money) - dec(col("l_discount"))           // (19,4) exact
    // rate factors use NARROW decimals: with (18,4) inputs the product
    // (1-d)*(1+t) would hit precision 39 > 38 and Spark silently drops to
    // scale 7 (rounding!) while DuckDB keeps scale 8 — a verified 1-ulp
    // divergence. (6,4) inputs keep the product at (15,8): exact in both.
    val small  = DecimalType(6, 4)
    val disc1n = lit(1).cast(small) - col("l_discount").cast(small)   // (8,4) exact
    val tax1n  = lit(1).cast(small) + col("l_tax").cast(small)        // (8,4) exact
    val factor = (disc1n * tax1n).cast(DecimalType(9, 8))             // (17,8)→(9,8) exact
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        outDec(sum(dec(col("l_quantity")))).as("sum_qty"),
        outDec(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
        outDec(sum(dec(col("l_extendedprice")) * disc1)).as("sum_disc_price"),
        outDec(sum(dec(col("l_extendedprice")) * factor)).as("sum_charge"),
        // avg4, not r4(sum/count): double round() half-points are
        // engine-divergent (see Tables.avg4 — round-11 unicode variant)
        avg4("sum(CAST(l_quantity AS DECIMAL(18,4)))", "count(1)").as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val flagshipOracle: String =
    """SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST((1 - CAST(l_discount AS DECIMAL(6,4))) * (1 + CAST(l_tax AS DECIMAL(6,4))) AS DECIMAL(9,8))), 4) AS DOUBLE) AS sum_charge,
       CAST((2 * CAST((sum(CAST(l_quantity AS DECIMAL(18,4)))) * 10000 AS BIGINT) + (count(*))) // (2 * (count(*))) AS DOUBLE) / 10000.0 AS avg_qty,
       count(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_group_multi" -> (flagship _),
    "agg_count_star" -> ((s, d) =>
      orders(s, d).groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus")),
    "agg_count_col" -> ((s, d) =>
      orders(s, d).groupBy("o_orderpriority")
        .agg(count(nullif(col("o_orderstatus"), lit("P"))).as("cnt_nonp"))
        .orderBy("o_orderpriority")),
    "agg_count_distinct" -> ((s, d) =>
      orders(s, d).groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderstatus")),
    "agg_sum_minmax" -> ((s, d) =>
      lineitem(s, d).groupBy("l_returnflag")
        .agg(
          outDec(sum(dec(col("l_quantity")))).as("sum_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          min(col("l_shipdate")).as("first_ship"))
        .orderBy("l_returnflag")),
    "agg_avg" -> ((s, d) =>
      lineitem(s, d).groupBy("l_linestatus")
        .agg(
          // avg4 (exact half-up), not r4(sum/count) — see Tables.avg4
          avg4("sum(CAST(l_quantity AS DECIMAL(18,4)))", "count(1)").as("avg_qty"),
          avg4("sum(CAST(l_extendedprice AS DECIMAL(18,4)))", "count(1)").as("avg_price"))
        .orderBy("l_linestatus")),
    "agg_having" -> ((s, d) =>
      orders(s, d).groupBy("o_custkey")
        .agg(outDec(sum(dec(col("o_totalprice")))).as("total"))
        .filter(col("total") > lit(1000000))
        .orderBy("o_custkey")),
    "agg_histogram" -> ((s, d) =>
      // fixed-width-bin histogram (the profiling primitive next to
      // profile_columns): bin index is a pure map-side floor-div, so the
      // whole histogram is ONE partial-aggregating keyed shuffle over ≤
      // |range|/width rows — no sort, no window. floor(double/25000.0) is
      // the same IEEE double op in both engines, so bins agree exactly.
      orders(s, d)
        .select(floor(col("o_totalprice") / 25000.0).cast("long").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n"))
        .select(col("bin"), (col("bin") * 25000).cast("double").as("bin_lo"), col("n"))
        .orderBy("bin")),
    "agg_filtered" -> ((s, d) =>
      lineitem(s, d).groupBy("l_returnflag")
        .agg(
          outDec(sum(when(col("l_discount") > 0.05, dec(col("l_quantity"))))).as("qty_hi_disc"),
          count(when(col("l_quantity") > 25, lit(1))).as("n_bulk"))
        .orderBy("l_returnflag")),
    "agg_rollup" -> ((s, d) =>
      // grouping flags join the ORDER BY: with genuine NULLs in the data,
      // a data-NULL group and its rollup row tie on the key columns alone
      // and the emitted order would be engine-arbitrary
      orders(s, d).rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
             grouping(col("o_orderstatus")).cast(LongType).as("g_status"),
             grouping(col("o_orderpriority")).cast(LongType).as("g_prio"))
        .orderBy(col("g_status"), col("g_prio"),
          col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)),
    "agg_cube" -> ((s, d) =>
      // grouping flags emitted + leading the sort: data-NULL groups and
      // rollup rows tie on the bare key columns (see agg_rollup)
      lineitem(s, d).cube("l_returnflag", "l_linestatus")
        .agg(outDec(sum(dec(col("l_quantity")))).as("sum_qty"),
          grouping(col("l_returnflag")).cast(LongType).as("g_flag"),
          grouping(col("l_linestatus")).cast(LongType).as("g_status"))
        .orderBy(col("g_flag"), col("g_status"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),
    "agg_grouping_sets" -> ((s, d) => {
      // GROUPING_ID leads the sort — a data-NULL status group, a data-NULL
      // priority group, and the grand total all tie on (NULL, NULL) keys
      orders(s, d).createOrReplaceTempView("orders")
      s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
                 CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
                 CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
               FROM orders
               GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
               ORDER BY g_status, g_prio,
                 o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")
    }),
    "agg_minmax_by" -> ((s, d) =>
      // argmin/argmax aggregates (the min_by/max_by surface): WHICH
      // order carried each customer's extreme price. Built-in
      // min_by/max_by tie-break is arbitrary in both engines, so the
      // extreme is picked via lexicographic struct min/max over
      // (price, orderkey) — the resample_ohlc discipline:
      // deterministic under any parallelism, still ONE
      // partial-aggregating keyed shuffle.
      // NULL prices are excluded from candidacy by nulling the WHOLE
      // struct (min/max skip NULL inputs in both engines) — a NULL FIELD
      // inside a non-null struct would diverge: Spark compares it lowest,
      // DuckDB highest
      orders(s, d).groupBy("o_custkey")
        .agg(
          max(when(col("o_totalprice").isNotNull,
              struct(col("o_totalprice"), col("o_orderkey"))))
            .getField("o_orderkey").as("max_order"),
          min(when(col("o_totalprice").isNotNull,
              struct(col("o_totalprice"), col("o_orderkey"))))
            .getField("o_orderkey").as("min_order"),
          count(lit(1)).as("n"))
        .orderBy("o_custkey")),
    "agg_stats" -> ((s, d) =>
      lineitem(s, d).groupBy("l_returnflag")
        .agg(
          r4(stddev_samp(col("l_quantity"))).as("sd_qty"),
          r4(var_samp(col("l_quantity"))).as("var_qty"),
          (r4(corr(col("l_quantity"), col("l_extendedprice"))) + lit(0.0)).as("corr_qp"),
          (r4(covar_samp(col("l_quantity"), col("l_extendedprice"))) + lit(0.0)).as("cov_qp"))
        .orderBy("l_returnflag")),
    "agg_collect_sorted" -> ((s, d) =>
      nation(s, d).groupBy("n_regionkey")
        .agg(to_json(sort_array(collect_list(col("n_name")))).as("names"))
        .orderBy("n_regionkey")),
    "agg_string_concat" -> ((s, d) =>
      customer(s, d).groupBy("c_nationkey")
        .agg(concat_ws(",", sort_array(collect_list(col("c_mktsegment")))).as("segs"))
        .orderBy("c_nationkey")),
    "agg_approx_distinct" -> ((s, d) =>
      // HLL sketch (rsd 2%) next to the exact count: cross-engine sketch
      // VALUES can't match, but the bounded-error contract can — the emitted
      // approx_ok bit makes the approximation property itself hash-checkable
      // (bounds additionally property-tested in ScalaTest)
      orders(s, d).groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_exact"),
          approx_count_distinct(col("o_custkey"), 0.02).as("approx"))
        .select(col("o_orderstatus"), col("n_exact"),
          // small-count floor: a 1-2 absolute error on a tiny group is
          // normal HLL behavior that a pure 10% bound would reject
          (abs(col("approx") - col("n_exact")) <=
            greatest(lit(2.0), col("n_exact") * 0.1)).as("approx_ok"))
        .orderBy("o_orderstatus")),
    "agg_bitmap_distinct" -> ((s, d) => {
      // EXACT distinct count via bucketed bitmaps — the exact counterpart
      // to agg_hll_partial's sketch rollup: keys are bucketed into 32k-bit
      // bitmap segments (bitmap_bucket_number/bit_position), each segment
      // folds to one bitmap in a partial-aggregating shuffle, and distinct
      // = Σ bitmap popcounts. Unlike HLL this is exact, so the oracle is a
      // plain COUNT(DISTINCT) — and unlike COUNT(DISTINCT) the partials
      // are mergeable bytes (bitmap_or_agg), so per-shard bitmaps roll up
      // without re-touching rows: the dense-integer-domain rollup shape.
      orders(s, d).createOrReplaceTempView("orders")
      s.sql("""
        SELECT o_orderstatus, CAST(sum(cnt) AS BIGINT) AS n_cust
        FROM (SELECT o_orderstatus,
                bitmap_count(bitmap_construct_agg(bitmap_bit_position(o_custkey))) AS cnt
              FROM orders
              GROUP BY o_orderstatus, bitmap_bucket_number(o_custkey))
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus NULLS FIRST""")
    }),
    "agg_cms_topk" -> ((s, d) => {
      // heavy-hitter detection via Count-Min sketch — the skew probe that
      // justifies salting (cf. join_skew_salted): the sketch is
      // O(1/eps · ln 1/δ) bytes, built in ONE distributed pass, then
      // queried on the driver (a KB-sized object — this is the one
      // legitimate collect-the-AGGREGATE shape, never collect-the-rows).
      // CMS never under-counts; over-count is bounded by eps·N with
      // probability 1-δ PER QUERY (δ=0.01 here), so within_bound=true is
      // only deterministic because the seed (1) and fixtures are pinned —
      // a seed/fixture change may legitimately flip a row, in which case
      // widen δ (deeper sketch), don't loosen the bound.
      // non-null keys only: CMS counts ITEMS (a NULL is no item), and the
      // driver-side probe below getLong-NPEs on a NULL heavy-hitter group
      val li = lineitem(s, d).filter(col("l_suppkey").isNotNull)
      val cms = li.stat.countMinSketch(col("l_suppkey"), 0.001, 0.99, 1)
      val n = li.count()
      val top = li.groupBy("l_suppkey").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("l_suppkey")).limit(5).collect()
      val rows = top.map { r =>
        val k = r.getLong(0); val ex = r.getLong(1)
        val est = cms.estimateCount(k)
        (k, ex, est >= ex && est <= ex + (0.001 * n).toLong + 1)
      }.toSeq
      import s.implicits._
      rows.toDF("l_suppkey", "n_exact", "within_bound").orderBy("l_suppkey")
    }),
    "agg_bloom_filter" -> ((s, d) => {
      // membership filter — the runtime-filter / semi-join-pushdown
      // primitive: ONE aggregation folds the fact's join keys into a 32 KB
      // bitmap; probing the dim is then pure map work (might_contain).
      // Contract: Bloom filters have NO false negatives; the FP rate is
      // bounded by bits/key sizing derived FROM THE FIXTURE, not a
      // constant — expected items ≤ the order count (distinct custkeys
      // can't exceed rows; one driver-side scalar), 16 bits/key ⇒ FP ≪5%
      // while the sizing is unclamped. Spark's BloomFilterAggregate
      // REJECTS sizes above the session's runtime-bloom-filter maxima
      // (maxNumItems 4M / maxNumBits 64M by default), so both are clamped
      // to those confs: past ~4M keys (sf ≳ 3) the filter stays VALID
      // (no false negatives, the query runs) but bits/key — and with it
      // the FP guarantee — degrades; at that scale you raise the confs
      // or shard the filter per partition. build/probe are Spark's own
      // runtime-filter Catalyst expressions, surfaced as SQL by the
      // GraftExtensions every GraftSession installs.
      val ord = orders(s, d)
      ord.createOrReplaceTempView("orders")
      customer(s, d).createOrReplaceTempView("customer")
      val maxItems = s.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
      val maxBits = s.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
      val nKeys = math.min(math.max(ord.count(), 1L), maxItems)
      val nBits = math.min(math.max(262144L, 16L * nKeys), maxBits)
      s.sql(s"""
        WITH bf AS (SELECT bloom_filter_agg(xxhash64(o_custkey),
                      CAST($nKeys AS BIGINT), CAST($nBits AS BIGINT)) AS f
                    FROM orders),
        probe AS (SELECT c_custkey,
            might_contain((SELECT f FROM bf), xxhash64(c_custkey)) AS hit,
            EXISTS(SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS member
          FROM customer)
        SELECT count(*) AS n_customers,
          CAST(coalesce(sum(CASE WHEN member AND NOT hit THEN 1 ELSE 0 END), 0) AS BIGINT)
            AS false_negatives,
          coalesce(sum(CASE WHEN hit AND NOT member THEN 1 ELSE 0 END) <= 0.05 * count(*),
            true) AS fp_rate_ok
        FROM probe""")
    }),
    "agg_entropy" -> ((s, d) => {
      // per-user label-distribution (Shannon) entropy — the class-balance
      // health metric a training pipeline monitors. The 5 event types are
      // pivoted STATICALLY (fixed literal order; cf. agg_pivot's
      // explicit-value-list rule), so the Σ -p·ln p fold is the same
      // left-associated double chain in both engines — a dynamic sum over
      // group rows would accumulate in partition order and drift.
      // One partial-aggregating shuffle; entropy math is map-side.
      val types = Seq("view", "click", "purchase", "signup", "error")
      val cnts = types.map(t => count(when(col("event_type") === t, 1)).as(s"c_$t"))
      val g = events(s, d).groupBy("user_id").agg(cnts.head, cnts.tail: _*)
        .withColumn("n_events", types.map(t => col(s"c_$t")).reduce(_ + _))
      val terms = types.map { t =>
        val p = col(s"c_$t").cast(DoubleType) / col("n_events").cast(DoubleType)
        when(col(s"c_$t") > 0, -(p * log(p))).otherwise(lit(0.0))
      }
      g.select(col("user_id"), col("n_events"),
          r4(terms.reduce(_ + _)).as("entropy"))
        .orderBy("user_id")
    }),
    "agg_hll_partial" -> ((s, d) => {
      // RE-AGGREGATABLE sketch merge — the two-level shape that matters at
      // 100 TB: build a KB-sized HLL sketch per shard (here: order-month),
      // then hll_union_agg merges the partials into the global distinct
      // WITHOUT re-touching raw rows. This is how count-distinct rolls up
      // across 1000 executors / pre-aggregated partitions; the exact
      // countDistinct runs alongside only to power the bounded-error
      // contract (cf. agg_approx_distinct — sketch values can't hash-match
      // cross-engine, the error bound can).
      val partials = orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("shard"))
        .agg(expr("hll_sketch_agg(o_custkey, 14)").as("sk"))
      val merged = partials.agg(
        count(lit(1)).as("n_shards"),
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      val exact = orders(s, d).agg(countDistinct(col("o_custkey")).as("n_exact"))
      exact.crossJoin(merged).select(
        col("n_exact"), col("n_shards"),
        (abs(col("est") - col("n_exact")) <=
          greatest(lit(2.0), col("n_exact") * 0.02)).as("approx_ok"))
    }),
    "agg_approx_quantile" -> ((s, d) => {
      // KLL/GK-style quantile sketch (percentile_approx, accuracy 10000)
      // next to the exact interpolated percentile — same pattern as
      // agg_approx_distinct: the cross-engine sketch VALUE can't match,
      // the bounded-error contract can. The contract checks what the
      // sketch actually GUARANTEES — the returned value's RANK is within
      // n/accuracy of the target rank — not a value tolerance: on
      // duplicate-heavy data the interpolated exact percentile can sit
      // between wide value gaps where any rank-correct answer differs
      // from it by far more than 1% (dupkeys edge fixture).
      val ap = orders(s, d).groupBy("o_orderstatus")
        .agg(
          r4(expr("percentile(o_totalprice, 0.5)")).as("p50_exact"),
          r4(expr("percentile(o_totalprice, 0.9)")).as("p90_exact"),
          expr("percentile_approx(o_totalprice, 0.5, 10000)").as("a50"),
          expr("percentile_approx(o_totalprice, 0.9, 10000)").as("a90"),
          count(col("o_totalprice")).as("nv"))
      val probe = orders(s, d)
        .select(col("o_orderstatus").as("st"), col("o_totalprice").as("v"))
        .filter(col("v").isNotNull)
      // +1: the guarantee is floor(n/accuracy) ranks and the target rank
      // itself straddles a 0.5 grid — measured at sf0.1 the sketch lands
      // EXACTLY n/10000 ranks off (hi90 = target − 5.0 with n ≈ 50k)
      val slack = lit(1.0) + col("nv") / 10000.0
      def rankOk(a: String, p: Double) =
        (sum(when(col("v") < col(a), 1L).otherwise(0L)) <= col("nv") * p + slack) &&
        (sum(when(col("v") <= col(a), 1L).otherwise(0L)) >= col("nv") * p - slack)
      ap.join(probe, col("o_orderstatus") <=> col("st"), "left")
        .groupBy("o_orderstatus", "p50_exact", "p90_exact", "a50", "a90", "nv")
        .agg(coalesce(rankOk("a50", 0.5) && rankOk("a90", 0.9), lit(true))
          .as("approx_ok"))
        .select(col("o_orderstatus"), col("p50_exact"), col("p90_exact"),
          col("approx_ok"))
        .orderBy("o_orderstatus")
    }),

    "agg_pivot" -> ((s, d) =>
      // pivot = grouped conditional aggregation; explicit value list keeps
      // the schema static (Catalyst requires it to avoid a discovery pass —
      // exactly what you want at scale anyway). coalesce(…,0): Spark pivot
      // yields NULL for empty cells, the FILTER-count oracle yields 0.
      orders(s, d).groupBy("o_orderstatus")
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .count()
        .select(col("o_orderstatus"),
          coalesce(col("`1-URGENT`"), lit(0L)).as("p_urgent"),
          coalesce(col("`2-HIGH`"), lit(0L)).as("p_high"),
          coalesce(col("`3-MEDIUM`"), lit(0L)).as("p_medium"),
          coalesce(col("`4-NOT SPECIFIED`"), lit(0L)).as("p_notspec"),
          coalesce(col("`5-LOW`"), lit(0L)).as("p_low"))
        .orderBy("o_orderstatus")),
    "unpivot" -> ((s, d) =>
      // wide→long reshaping (melt); value columns unify to double
      part(s, d)
        .select(col("p_partkey"), col("p_size").cast(DoubleType).as("p_size"),
          col("p_retailprice"))
        .unpivot(Array(col("p_partkey")),
          Array(col("p_size"), col("p_retailprice")), "metric", "val")
        .orderBy("p_partkey", "metric")),
    "agg_median" -> ((s, d) => {
      // exact per-group median — the robust center beside agg_avg. LOWER
      // median selected by RANK (an exact element of the data, identical
      // in both engines — interpolating medians differ by ulps on even
      // counts; the anomaly_mad discipline as a standalone aggregate).
      // One rank window per group + a 3-row result; at scale the group
      // key is the segmentation dimension, same as anomaly_mad.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val wN = Window.partitionBy("o_orderstatus")
      orders(s, d)
        // the median of KNOWN values: NULL prices carry no rank position
        // (and would rank NULLS-FIRST in Spark, NULLS-LAST in DuckDB)
        .filter(col("o_totalprice").isNotNull)
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wN))
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("o_orderstatus"), col("n").as("n_orders"),
          col("o_totalprice").as("median_price"))
        .orderBy("o_orderstatus")
    }),

    "fn_surrogate_key" -> ((s, d) => {
      // deterministic surrogate keys — the dbt-style generate_surrogate_key
      // over the natural composite key: md5 of the delimiter-joined parts
      // with a NULL sentinel, so the key is stable across engines, runs,
      // and cluster shapes (a monotonically_increasing_id would be none
      // of those). Pure map work; the distinct-count audit proves
      // collision-freedom on the fixture. The 16-byte hex doubles as the
      // join/dedup key downstream systems store. The natural key is the
      // FULL 4-column composite — (l_orderkey, l_linenumber) alone is
      // NOT unique in this fixture (measured 45832 distinct of 60000),
      // exactly the silent-collision trap the uniqueness spec exists for.
      val sk = md5(concat_ws("||",
        coalesce(col("l_orderkey").cast("string"), lit("@null@")),
        coalesce(col("l_linenumber").cast("string"), lit("@null@")),
        coalesce(col("l_partkey").cast("string"), lit("@null@")),
        coalesce(col("l_suppkey").cast("string"), lit("@null@"))))
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber").cast(LongType).as("l_linenumber"),
          sk.as("surrogate_key"))
        .orderBy("l_orderkey", "l_linenumber", "surrogate_key")
    }),

    "agg_percentile" -> ((s, d) =>
      lineitem(s, d).groupBy("l_returnflag")
        .agg(
          r4(expr("percentile(l_quantity, 0.25)")).as("p25_qty"),
          r4(expr("percentile(l_quantity, 0.5)")).as("median_qty"),
          r4(expr("percentile(l_extendedprice, 0.9)")).as("p90_price"))
        .orderBy("l_returnflag")),
    "agg_mode" -> ((s, d) => {
      // exact per-group mode with an EXPLICIT deterministic tie-break
      // (count DESC, then value ASC) — the engines' built-in mode() pick
      // arbitrary ties, so the operator is defined via counted ranking:
      // one partial-aggregating count shuffle + a window over the (tiny)
      // per-group value-count table, never the raw rows
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderstatus")
        .orderBy(col("cnt").desc, col("o_orderpriority"))
      orders(s, d).groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
          col("cnt").as("mode_count"))
        .orderBy("o_orderstatus")
    }),
    "agg_bool" -> ((s, d) =>
      // boolean aggregate family (every/any/conditional count) — partial-
      // aggregating single shuffle like the numeric aggregates
      orders(s, d).groupBy("o_orderstatus")
        .agg(bool_and(col("o_totalprice") > 100).as("all_above_100"),
          bool_or(col("o_orderpriority") === "1-URGENT").as("any_urgent"),
          expr("count_if(o_totalprice > 200000)").as("n_big"))
        .orderBy("o_orderstatus")),
    "agg_moments" -> ((s, d) =>
      // higher-moment family (skewness / excess kurtosis) — built from
      // EXACT integer power sums rather than the engines' built-ins:
      // Spark's skewness/kurtosis are population formulas while DuckDB's
      // are sample-corrected, and both accumulate doubles in partition
      // order. l_quantity is integral, so Σq..Σq⁴ are exact BIGINTs
      // (bounded: 50⁴·|rows| ≪ 2⁶³) folded in ONE partial-aggregating
      // shuffle; both engines then run the identical double formula on
      // identical integers. Population formulas (m-central moments):
      // skew = m3/m2^1.5, kurt = m4/m2² − 3.
      lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity").cast("bigint").as("q"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(col("q")).as("s1"),
          sum(col("q") * col("q")).as("s2"),
          sum(col("q") * col("q") * col("q")).as("s3"),
          sum(col("q") * col("q") * col("q") * col("q")).as("s4"))
        .select(col("l_returnflag"),
          // try_divide: a 1-row (or constant) group has m2 = 0 — NULL
          // moments (DuckDB's 0/0), not an ANSI divide-by-zero error
          expr("""round(
            try_divide(((s3 - 3.0*s2*(s1/CAST(n AS DOUBLE)) + 2.0*n*pow(s1/CAST(n AS DOUBLE), 3))/n),
            pow((s2 - n*pow(s1/CAST(n AS DOUBLE), 2))/n, 1.5)), 4) + 0.0""").as("skew"),
          expr("""round(
            try_divide(((s4 - 4.0*s3*(s1/CAST(n AS DOUBLE)) + 6.0*s2*pow(s1/CAST(n AS DOUBLE), 2)
              - 3.0*n*pow(s1/CAST(n AS DOUBLE), 4))/n),
            pow((s2 - n*pow(s1/CAST(n AS DOUBLE), 2))/n, 2)) - 3.0, 4) + 0.0""").as("kurt"))
        .orderBy("l_returnflag")),
    "agg_weighted_avg" -> ((s, d) =>
      // weighted mean — Σ(w·x)/Σw with the money discipline: the product
      // and both sums are exact DECIMAL (l_quantity integral, price
      // scale-4), one keyed shuffle, final divide in double. The VWAP /
      // weighted-metric shape; a plain avg() weights every row equally.
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(r4((sum(dec(col("l_extendedprice")) * col("l_quantity").cast("bigint"))
            .cast(DoubleType)) /
          sum(col("l_quantity").cast("bigint")).cast(DoubleType)).as("wavg_price"),
          sum(col("l_quantity").cast("bigint")).as("total_qty"))
        .orderBy("l_returnflag")),
    "agg_regr" -> ((s, d) =>
      // bivariate statistics family (corr / covar / least-squares fit) —
      // single partial-aggregating shuffle (all four are co-moment
      // sketches: constant state per group, map-side combinable). round(,4)
      // + negative-zero pinning absorb the engines' different double
      // accumulation orders.
      lineitem(s, d).groupBy("l_returnflag")
        .agg(
          (r4(corr(col("l_quantity"), col("l_extendedprice"))) + lit(0.0)).as("corr_qp"),
          (r4(covar_samp(col("l_quantity"), col("l_extendedprice"))) + lit(0.0)).as("covar_qp"),
          (r4(regr_slope(col("l_extendedprice"), col("l_quantity"))) + lit(0.0)).as("slope_pq"),
          (r4(regr_intercept(col("l_extendedprice"), col("l_quantity"))) + lit(0.0)).as("icept_pq"))
        .orderBy("l_returnflag"))
  )

  val oracles: Map[String, String] = Map(
    "agg_group_multi" -> flagshipOracle,
    "agg_bool" ->
      """SELECT o_orderstatus,
         bool_and(o_totalprice > 100) AS all_above_100,
         bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
         CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big
         FROM orders GROUP BY 1 ORDER BY o_orderstatus NULLS FIRST""",
    "agg_moments" ->
      // identical formula text over identical exact integer sums — see the
      // Spark side for why the built-ins can't be differentially compared
      """WITH g AS (
           SELECT l_returnflag, count(*) AS n, sum(q) AS s1, sum(q*q) AS s2,
             sum(q*q*q) AS s3, sum(q*q*q*q) AS s4
           FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q
                 FROM lineitem) GROUP BY 1)
         SELECT l_returnflag,
           round(
             ((s3 - 3.0*s2*(s1/CAST(n AS DOUBLE)) + 2.0*n*pow(s1/CAST(n AS DOUBLE), 3))/n)
             / pow((s2 - n*pow(s1/CAST(n AS DOUBLE), 2))/n, 1.5), 4) + 0.0 AS skew,
           round(
             ((s4 - 4.0*s3*(s1/CAST(n AS DOUBLE)) + 6.0*s2*pow(s1/CAST(n AS DOUBLE), 2)
               - 3.0*n*pow(s1/CAST(n AS DOUBLE), 4))/n)
             / pow((s2 - n*pow(s1/CAST(n AS DOUBLE), 2))/n, 2) - 3.0, 4) + 0.0 AS kurt
         FROM g ORDER BY l_returnflag NULLS FIRST""",
    "agg_weighted_avg" ->
      """SELECT l_returnflag,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_quantity AS BIGINT)) AS DOUBLE)
           / CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE), 4) AS wavg_price,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag NULLS FIRST""",
    "agg_regr" ->
      """SELECT l_returnflag,
         round(corr(l_quantity, l_extendedprice), 4) + 0.0 AS corr_qp,
         round(covar_samp(l_quantity, l_extendedprice), 4) + 0.0 AS covar_qp,
         round(regr_slope(l_extendedprice, l_quantity), 4) + 0.0 AS slope_pq,
         round(regr_intercept(l_extendedprice, l_quantity), 4) + 0.0 AS icept_pq
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag NULLS FIRST""",
    "agg_mode" ->
      """SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS mode_count
         FROM (
           SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
             row_number() OVER (PARTITION BY o_orderstatus
               ORDER BY count(*) DESC NULLS LAST, o_orderpriority NULLS FIRST) AS rn
           FROM orders GROUP BY 1, 2)
         WHERE rn = 1 ORDER BY o_orderstatus NULLS FIRST""",
    "agg_count_star" ->
      "SELECT o_orderstatus, count(*) AS cnt FROM orders GROUP BY 1 ORDER BY o_orderstatus NULLS FIRST",
    "agg_count_col" ->
      """SELECT o_orderpriority, count(nullif(o_orderstatus,'P')) AS cnt_nonp
         FROM orders GROUP BY 1 ORDER BY o_orderpriority NULLS FIRST""",
    "agg_approx_quantile" ->
      """SELECT o_orderstatus,
         round(quantile_cont(o_totalprice, 0.5), 4) AS p50_exact,
         round(quantile_cont(o_totalprice, 0.9), 4) AS p90_exact,
         true AS approx_ok
         FROM orders GROUP BY 1 ORDER BY o_orderstatus NULLS FIRST""",
    "agg_bitmap_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust
         FROM orders GROUP BY 1 ORDER BY o_orderstatus NULLS FIRST""",
    "agg_cms_topk" ->
      """SELECT l_suppkey, n_exact, true AS within_bound FROM (
           SELECT l_suppkey, count(*) AS n_exact FROM lineitem
           WHERE l_suppkey IS NOT NULL GROUP BY 1
           ORDER BY n_exact DESC NULLS LAST, l_suppkey NULLS FIRST LIMIT 5)
         ORDER BY l_suppkey NULLS FIRST""",
    "agg_bloom_filter" ->
      """SELECT count(*) AS n_customers,
         CAST(0 AS BIGINT) AS false_negatives,
         true AS fp_rate_ok
         FROM customer""",
    "agg_entropy" -> {
      val types = Seq("view", "click", "purchase", "signup", "error")
      val cnts = types.map(t =>
        s"count(*) FILTER (event_type = '$t') AS c_$t").mkString(", ")
      val term = (t: String) =>
        s"""CASE WHEN c_$t > 0
            THEN -((CAST(c_$t AS DOUBLE) / CAST(n_events AS DOUBLE))
                   * ln(CAST(c_$t AS DOUBLE) / CAST(n_events AS DOUBLE)))
            ELSE CAST(0.0 AS DOUBLE) END"""
      s"""WITH g AS (SELECT user_id, $cnts FROM events GROUP BY 1),
          n AS (SELECT *, ${types.map(t => s"c_$t").mkString(" + ")} AS n_events FROM g)
          SELECT user_id, n_events,
            round(${types.map(term).mkString(" + ")}, 4) AS entropy
          FROM n ORDER BY user_id NULLS FIRST"""
    },
    "agg_hll_partial" ->
      // +1 for the NULL-date shard when present: the Spark side GROUPS by
      // the shard key (a NULL month is a real shard) while COUNT(DISTINCT)
      // skips NULLs
      """SELECT count(DISTINCT o_custkey) AS n_exact,
         count(DISTINCT date_trunc('month', o_orderdate))
           + CASE WHEN count(*) FILTER (o_orderdate IS NULL) > 0
                  THEN 1 ELSE 0 END AS n_shards,
         true AS approx_ok
         FROM orders""",
    "agg_approx_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_exact,
         true AS approx_ok
         FROM orders GROUP BY 1 ORDER BY o_orderstatus NULLS FIRST""",
    "agg_count_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust
         FROM orders GROUP BY 1 ORDER BY o_orderstatus NULLS FIRST""",
    "agg_sum_minmax" ->
      """SELECT l_returnflag,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
         min(l_shipdate) AS first_ship
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag NULLS FIRST""",
    "agg_avg" ->
      s"""SELECT l_linestatus,
         ${avg4Duck("sum(CAST(l_quantity AS DECIMAL(18,4)))", "count(*)")} AS avg_qty,
         ${avg4Duck("sum(CAST(l_extendedprice AS DECIMAL(18,4)))", "count(*)")} AS avg_price
         FROM lineitem GROUP BY 1 ORDER BY l_linestatus NULLS FIRST""",
    "agg_having" ->
      """SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
         FROM orders GROUP BY 1
         HAVING CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,4)) > 1000000
         ORDER BY o_custkey NULLS FIRST""",
    "agg_histogram" ->
      """SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin,
         CAST(CAST(floor(o_totalprice / 25000.0) AS BIGINT) * 25000 AS DOUBLE) AS bin_lo,
         count(*) AS n
         FROM orders GROUP BY 1, 2 ORDER BY bin NULLS FIRST""",
    "agg_filtered" ->
      """SELECT l_returnflag,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS qty_hi_disc,
         count(*) FILTER (WHERE l_quantity > 25) AS n_bulk
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag NULLS FIRST""",
    "agg_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
         CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
         CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         HAVING count(*) > 0
         ORDER BY g_status, g_prio,
           o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "agg_cube" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
         CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         HAVING count(*) > 0
         ORDER BY g_flag, g_status,
           l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "agg_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
         CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
         CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
         FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         HAVING count(*) > 0
         ORDER BY g_status, g_prio,
           o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "agg_minmax_by" ->
      """SELECT o_custkey,
         max(CASE WHEN o_totalprice IS NOT NULL
             THEN {'p': o_totalprice, 'k': o_orderkey} END).k AS max_order,
         min(CASE WHEN o_totalprice IS NOT NULL
             THEN {'p': o_totalprice, 'k': o_orderkey} END).k AS min_order,
         count(*) AS n
         FROM orders GROUP BY 1 ORDER BY o_custkey NULLS FIRST""",
    "agg_stats" ->
      """SELECT l_returnflag,
         round(stddev_samp(l_quantity), 4) AS sd_qty,
         round(var_samp(l_quantity), 4) AS var_qty,
         round(corr(l_quantity, l_extendedprice), 4) + 0.0 AS corr_qp,
         round(covar_samp(l_quantity, l_extendedprice), 4) + 0.0 AS cov_qp
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag NULLS FIRST""",
    "agg_collect_sorted" ->
      // FILTER mirrors Spark's collect_list, which silently skips NULLs
      // where DuckDB's list() keeps them
      // coalesce to []: a group whose names are ALL NULL is an empty list
      // in Spark (collect_list) but a NULL aggregate in DuckDB
      """SELECT n_regionkey,
         to_json(coalesce(list(n_name ORDER BY n_name NULLS FIRST)
                          FILTER (n_name IS NOT NULL), [])) AS names
         FROM nation GROUP BY 1 ORDER BY n_regionkey NULLS FIRST""",
    "agg_string_concat" ->
      """SELECT c_nationkey, string_agg(c_mktsegment, ',' ORDER BY c_mktsegment NULLS FIRST) AS segs
         FROM customer GROUP BY 1 ORDER BY c_nationkey NULLS FIRST""",
    "agg_pivot" ->
      """SELECT o_orderstatus,
         count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p_urgent,
         count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p_high,
         count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p_medium,
         count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p_notspec,
         count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p_low
         FROM orders GROUP BY 1 ORDER BY o_orderstatus NULLS FIRST""",
    "unpivot" ->
      """SELECT * FROM (
           SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
           UNION ALL
           SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part)
         ORDER BY p_partkey NULLS FIRST, metric NULLS FIRST""",
    "agg_median" ->
      """WITH r AS (
           SELECT o_orderstatus, o_totalprice,
             row_number() OVER (PARTITION BY o_orderstatus
               ORDER BY o_totalprice NULLS FIRST, o_orderkey NULLS FIRST) AS rn,
             count(*) OVER (PARTITION BY o_orderstatus) AS n
           FROM orders WHERE o_totalprice IS NOT NULL)
         SELECT o_orderstatus, CAST(n AS BIGINT) AS n_orders,
           o_totalprice AS median_price
         FROM r WHERE rn = (n + 1) // 2
         ORDER BY o_orderstatus NULLS FIRST""",
    "fn_surrogate_key" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         md5(concat_ws('||',
           coalesce(CAST(l_orderkey AS VARCHAR), '@null@'),
           coalesce(CAST(l_linenumber AS VARCHAR), '@null@'),
           coalesce(CAST(l_partkey AS VARCHAR), '@null@'),
           coalesce(CAST(l_suppkey AS VARCHAR), '@null@'))) AS surrogate_key
         FROM lineitem
         ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST,
           surrogate_key NULLS FIRST""",
    "agg_percentile" ->
      """SELECT l_returnflag,
         round(quantile_cont(l_quantity, 0.25), 4) AS p25_qty,
         round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
         round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag NULLS FIRST"""
  )
}
