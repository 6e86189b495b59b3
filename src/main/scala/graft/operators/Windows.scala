package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._

/** §2.5 window functions (SURVEY.md). Determinism rule §7.1.3/§7.4: every
  * ORDER BY inside a window spec is made total by tie-breaking on a primary
  * key wherever the function is order-sensitive (row_number, ntile, lag,
  * running sums); count-based functions (rank, percent_rank, cume_dist)
  * are tie-insensitive by definition. Windowed money sums stay DECIMAL so
  * the frame arithmetic is exact in both engines.
  */
object Windows {

  private def ordersW = Window.partitionBy("o_custkey")
    .orderBy(col("o_orderdate"), col("o_orderkey"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win_row_number" -> ((s, d) =>
      orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          row_number().over(ordersW).as("rn"))
        .orderBy("o_orderkey")),
    "win_rank" -> ((s, d) =>
      orders(s, d)
        .select(col("o_orderkey"),
          rank().over(Window.partitionBy("o_orderstatus").orderBy("o_orderpriority")).as("rnk"),
          dense_rank().over(Window.partitionBy("o_orderstatus").orderBy("o_orderpriority")).as("drnk"))
        .orderBy("o_orderkey")),
    "win_ntile" -> ((s, d) => winNtile(s, d)),
    "win_percent" -> ((s, d) =>
      orders(s, d)
        .select(col("o_orderkey"),
          r4(percent_rank().over(Window.partitionBy("o_orderstatus").orderBy("o_totalprice"))).as("pr"),
          r4(cume_dist().over(Window.partitionBy("o_orderstatus").orderBy("o_totalprice"))).as("cd"))
        .orderBy("o_orderkey")),
    "win_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, d)
        .select(col("event_id"), col("user_id"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .orderBy("event_id")
    }),
    "win_running_sum" -> ((s, d) =>
      orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          outDec(sum(dec(col("o_totalprice")))
            .over(ordersW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
            .as("run_total"))
        .orderBy("o_orderkey")),
    "win_moving_avg" -> ((s, d) => {
      // window order must be TOTAL within the partition: (l_orderkey,
      // l_linenumber, l_partkey) is unique within an l_suppkey partition
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        .rowsBetween(-3, 0)
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          r4(sum(dec(col("l_quantity"))).over(w).cast(DoubleType) /
             count(lit(1)).over(w)).as("mavg_qty"))
        .orderBy("l_orderkey", "l_linenumber", "mavg_qty")
    }),
    "win_range_frame" -> ((s, d) => {
      val ev = events(s, d).withColumn("es", expr("unix_micros(ts) div 1000000"))
      val w = Window.partitionBy("event_type").orderBy(col("es")).rangeBetween(-300, 0)
      ev.select(col("event_id"), col("event_type"), col("es"),
          outDec(sum(dec(col("value"))).over(w)).as("sum_5min"))
        .orderBy("event_id")
    }),
    "win_first_last" -> ((s, d) => {
      val w = ordersW.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          first(col("o_orderkey")).over(w).as("first_order"),
          last(col("o_orderkey")).over(w).as("last_order"))
        .orderBy("o_orderkey")
    }),
    "win_nth_value" -> ((s, d) => {
      // nth_value needs the full-partition frame (default frame stops at
      // CURRENT ROW and would yield NULL until row n) — same in DuckDB
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_order"))
        .orderBy("o_orderkey")
    }),
    "sessionize" -> ((s, d) => {
      // batch sessionization with per-session feature attribution — the
      // gaps-and-islands companion to stream_session (which checks the
      // 30-min session-window aggregate): a 4-hour inactivity gap opens a
      // new session (sessionTag, shared with concurrency_peak); each
      // session emits entry/exit event types (min_by/max_by over the
      // unique per-user ts), exact µs duration, and the
      // decimal-disciplined value total. Two keyed shuffles total (the
      // per-user window sort, then the session-key aggregate) — both on
      // user-sized partitions, never a global sort.
      //
      // AUTO-SWITCH (round 13, verdict item 1): the per-user window sorts
      // ONE entity's whole history in one task — HOTPROBE.json measures
      // the cliff (2.4 → 11.6 → 22.1 s at 1/4/8 M events on the hot
      // entity) while the day-bucketed decomposition holds near-flat.
      // Selection between the two row-identical plans is no longer
      // manual: a one-pass keyed count (partial-aggregated, collect-the-
      // AGGREGATE — one max over |users| group counts, never event rows)
      // measures the hottest entity and picks the day-bucketed plan past
      // hotEntityCutoff. Gate-neutral below the cutoff: every fixture is
      // orders of magnitude under 10⁶ events/entity, so fixture plans —
      // and CORRECTNESS/bench results — are bit-identical to the plain
      // form; above it both plans emit identical rows by construction
      // (proven per HotEntityProbe run via its row-identity require).
      val ev = events(s, d)
      if (maxEventsPerEntity(ev) > hotEntityCutoff) sessionizeBucketed(ev)
      else sessionAgg(sessionTag(ev))
    }),

    "sessionize_bucketed" -> ((s, d) =>
      // forced day-bucketed decomposition — kept as an explicit key so
      // HotEntityProbe / ScaleRehearsal can time the hatch head-to-head
      // against the auto-switching plain key, and as the operator a user
      // calls when they KNOW the corpus is whale-heavy (skipping the
      // knob's counting pass). Selection is otherwise automatic — see
      // `sessionize`.
      sessionizeBucketed(events(s, d))),

    "win_fill_forward" -> ((s, d) => {
      // time-series gap-fill: sparse readings carried forward — the
      // sensor/metrics-pipeline staple. NULLs are synthesized
      // deterministically (error events report no value); then
      // last(IGNORE NULLS) over the per-user ordered frame forward-fills
      // and lag(IGNORE NULLS) exposes the previous real reading. One
      // per-key window, no global operator.
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .withColumn("v",
          when(col("event_type") === "error", lit(null)).otherwise(col("value")))
        .select(col("event_id"), col("user_id"), col("v"),
          last(col("v"), ignoreNulls = true).over(wf).as("v_filled"),
          lag(col("v"), 1, null, ignoreNulls = true).over(w).as("prev_reading"))
        .orderBy("event_id")
    }),

    "ts_interpolate" -> ((s, d) => {
      // two-sided LINEAR interpolation onto a dense per-user hourly grid —
      // the gap-filling counterpart to win_fill_forward's step function
      // (metrics/sensor pipelines run both; linear is the resampling
      // default). Hourly means of PURCHASE events only, so the grid has
      // real gaps at every fixture scale; the grid spans each user's
      // observed [min, max] hour via sequence() explode (bounded by the
      // fixture time span — at scale, by the retention window), so every
      // gap row has both a previous and a next observation by
      // construction. Plan: ONE keyed agg to hourly means, one keyed agg
      // for the per-user span, two partition-local IGNORE-NULLS window
      // passes — no global window, partitioned by user throughout.
      // Determinism: the whole interpolation runs in FIXED-POINT integer
      // arithmetic (the graph_pagerank discipline) — hourly means are
      // BIGINT 1e-4 units (exact decimal sum, truncating integer
      // division), the gap value is pv + ((nv-pv)·dt) DIV dn over exact
      // epoch-second longs (both engines truncate integer division toward
      // zero), and the only float op is the final CAST/1e4 — the same
      // correctly-rounded IEEE division everywhere. A first cut that
      // interpolated in doubles + round(,4) hit the engines' divergent
      // double-rounding at .5 boundaries (Spark rounds the decimal
      // STRING, DuckDB the binary double) on 4 of 4k rows.
      val hourly = events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
        .agg(expr("CAST(sum(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT)" +
          " DIV count(*)").as("v_u"))
      val grid = hourly.groupBy("user_id")
        .agg(min("hour").as("h0"), max("hour").as("h1"))
        .select(col("user_id"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
      val w = Window.partitionBy("user_id").orderBy("hour")
      val wb = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wa = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      grid.join(hourly, Seq("user_id", "hour"), "left")
        .select(col("user_id"), col("hour"), col("v_u"),
          last(col("v_u"), ignoreNulls = true).over(wb).as("pv"),
          last(when(col("v_u").isNotNull, col("hour")), ignoreNulls = true)
            .over(wb).as("ph"),
          first(col("v_u"), ignoreNulls = true).over(wa).as("nv"),
          first(when(col("v_u").isNotNull, col("hour")), ignoreNulls = true)
            .over(wa).as("nh"))
        .select(col("user_id"), col("hour"),
          (when(col("v_u").isNotNull, col("v_u"))
            .otherwise(col("pv") + expr("((nv - pv) * " +
              "(unix_timestamp(hour) - unix_timestamp(ph))) DIV " +
              "(unix_timestamp(nh) - unix_timestamp(ph))"))
            .cast(DoubleType) / 10000.0).as("v_interp"),
          col("v_u").isNull.as("is_gap"))
        .orderBy("user_id", "hour")
    }),

    "scd2_history" -> ((s, d) => {
      // SCD Type-2 temporal versioning — the warehouse history-building
      // shape: each order opens a new version for its customer;
      // valid_to = the next version's valid_from (exclusive), NULL marks
      // the open (current) version. One window per customer partition,
      // totally ordered by (date, pk); no global operator.
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      orders(s, d).filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("o_orderdate").as("valid_from"),
          lead(col("o_orderdate"), 1).over(w).as("valid_to"))
        .withColumn("is_current", col("valid_to").isNull)
        .orderBy("o_custkey", "valid_from", "o_orderkey")
    }),

    "funnel_conversion" -> ((s, d) => funnel(events(s, d))),

    "event_transitions" -> ((s, d) => {
      // first-order Markov transition matrix over per-user event streams
      // — the "what follows what" table behind next-action prediction and
      // bot detection (a user whose click→click self-loop dominates is a
      // crawler). ONE user-keyed window exchange (lead over (ts,
      // event_id) — the sessionize total-order discipline) feeds a
      // |types|²-bounded count agg; row totals derive from the MATRIX
      // (25 rows, broadcast back), never a second event pass; transition
      // probabilities are exact integer basis points.
      //
      // AUTO-SWITCH (round 13, verdict item 1 — the sessionize knob):
      // HOTPROBE.json puts this key's hot-entity cliff at ~10⁶ events
      // (2.7 → 11.2 → 26.9 s at 1/4/8 M on one entity) while the
      // day-bucketed decomposition holds near-flat; past hotEntityCutoff
      // the knob selects that plan. Gate-neutral below the cutoff (every
      // fixture plan is unchanged); the two plans are row-identical by
      // construction above it.
      val ev = events(s, d)
      if (maxEventsPerEntity(ev) > hotEntityCutoff) transitionsBucketed(ev)
      else transitionsPlain(ev)
    }),

    "event_transitions_bucketed" -> ((s, d) =>
      // forced day-bucketed decomposition — kept as an explicit key for
      // the probe/rehearsal head-to-head and for whale-heavy corpora
      // where the caller skips the knob's counting pass; see
      // `event_transitions` for the automatic selection.
      transitionsBucketed(events(s, d))),

    "abc_analysis" -> ((s, d) => {
      // Pareto / ABC inventory classification — rank customers by revenue
      // and cut the cumulative share at 80%/95% into A/B/C classes (the
      // "which 20% of accounts carry 80% of revenue" decision table).
      // The global revenue-ordered running sum does NOT use a global
      // window: the globalRunning two-phase plan (range-partition on the
      // total order (rev DESC, custkey), local cumsum per partition-id
      // window, broadcast cumulative offsets — the scaffold shared with
      // globalNtile and concurrency_peak). Class boundaries compare
      // EXACT DECIMAL sums cross-multiplied (cum·100 ≤ total·80 — no
      // float share ever forms, so membership can't flip on a rounding
      // boundary, and decimal addition is associative so the partial
      // sums are partition-order-free).
      val rev = orders(s, d).groupBy(col("o_custkey"))
        .agg(sum(dec(col("o_totalprice"))).as("rev"))
      val (run, totDf) = globalRunning(rev,
        Seq(col("rev").desc, col("o_custkey")), col("rev"), "cum")
      // the grand total rides in as a broadcast 1-row column (round 18) —
      // the cross-multiplied EXACT decimal comparison is unchanged
      run.crossJoin(broadcast(totDf))
        .select(col("o_custkey").as("c_custkey"),
          outDec(col("rev")).as("revenue"),
          when(col("cum") * 100 <= col(cTot) * 80, "A")
            .when(col("cum") * 100 <= col(cTot) * 95, "B")
            .otherwise("C").as("cls"))
        .orderBy("c_custkey")
    }),

    "funnel_time_to_convert" -> ((s, d) => {
      // conversion LATENCY per completed funnel — the companion decision
      // table to funnel_conversion's stage counts (same funnelStages
      // definition, so "how many converted" and "how fast" can never
      // disagree): per user, seconds from first view to conversion and
      // for the final hop. MICROSECOND-exact integer arithmetic
      // (unix_micros / epoch_us — events carry sub-second components, and
      // second-floor vs epoch-round would diverge between engines), then
      // a truncating div to whole seconds. Plan: three user-keyed stage
      // aggs + two user-keyed joins; everything partial-aggregates.
      val (v, c, p) = funnelStages(events(s, d))
      v.join(c, "user_id").join(p, "user_id")
        .select(col("user_id"),
          expr("(unix_micros(t_purchase) - unix_micros(t_view)) div 1000000")
            .as("total_secs"),
          expr("(unix_micros(t_purchase) - unix_micros(t_click)) div 1000000")
            .as("last_hop_secs"))
        .orderBy("user_id")
    }),

    "resample_ohlc" -> ((s, d) => {
      // time-series downsampling to daily OHLC bars per event_type — the
      // metrics/finance resample shape. open/close are picked by
      // lexicographic struct min/max over (ts, event_id, value): event_id
      // makes the order total, so the bar is deterministic even with tied
      // timestamps (same discipline as sessionize's entry/exit). ONE keyed
      // aggregate — at 100 TB this is a single partial-aggregating shuffle
      // on (type, bar); no window, no sort until the final output order.
      events(s, d)
        .withColumn("bar", date_trunc("day", col("ts")))
        .groupBy("event_type", "bar")
        .agg(
          min(struct(col("ts"), col("event_id"), col("value")))
            .getField("value").as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(struct(col("ts"), col("event_id"), col("value")))
            .getField("value").as("close"),
          count(lit(1)).as("n_events"),
          outDec(sum(dec(col("value")))).as("sum_value"))
        .orderBy("event_type", "bar")
    }),

    "win_ewma" -> ((s, d) => {
      // exponentially weighted moving average (α=0.5, 8-term truncated
      // kernel) per user — the smoothing primitive for metric streams.
      // A true infinite-history EWMA is a sequential recurrence (hostile
      // to distributed evaluation AND to cross-engine determinism); the
      // 8-term truncation expresses it as a FIXED bundle of lag() reads
      // over one per-key window: weights (1-α)^i are exact dyadic doubles,
      // and the numerator/denominator fold is written in the same
      // left-associated order in both engines so the double arithmetic is
      // bit-identical. One window shuffle on user_id; everything else is
      // map-side codegen.
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val terms = (0 until 8).map { i =>
        val x = if (i == 0) col("value") else lag(col("value"), i).over(w)
        (x, lit(math.pow(0.5, i)))
      }
      val num = terms.map { case (x, wt) =>
        when(x.isNotNull, x * wt).otherwise(lit(0.0)) }.reduce(_ + _)
      val den = terms.map { case (x, wt) =>
        when(x.isNotNull, wt).otherwise(lit(0.0)) }.reduce(_ + _)
      events(s, d)
        .select(col("event_id"), col("user_id"), col("value"),
          // den = 0 (all 8 kernel reads NULL) → no information: NULL, not
          // an ANSI divide-by-zero (Spark) / NaN (DuckDB)
          when(den > 0, r4(num / den)).as("ewma"))
        .orderBy("event_id")
    }),

    "win_rolling_median" -> ((s, d) => {
      // exact rolling median (±3-row frame) per user — the robust
      // smoother where win_moving_avg is outlier-sensitive. Spark has no
      // median window function; the frame's values are collected and
      // sorted IN-ROW — state is O(frame)=7, constant, so this stays
      // scale-safe where an unbounded-frame collect would not. Even-sized
      // boundary frames average the two middle values (the engines' common
      // median definition); both addends are the same exact doubles, so
      // the average is bit-identical cross-engine. One user-keyed window
      // shuffle.
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-3, 3)
      events(s, d)
        .withColumn("fr", sort_array(collect_list(col("value")).over(w)))
        // size(fr) = 0 guard: collect_list skips NULLs, so a frame whose 7
        // values are ALL NULL collects empty — the even branch would then
        // ask for element_at(fr, 0), an ANSI error (found by the
        // dupkeys_nulls compound fixture, round 9). Median of no values is
        // NULL — which is also what the oracle's median() returns there.
        .select(col("event_id"), col("user_id"),
          r4(expr("""CASE WHEN size(fr) = 0 THEN CAST(NULL AS DOUBLE)
                       WHEN size(fr) % 2 = 1
                       THEN element_at(fr, CAST((size(fr) + 1) DIV 2 AS INT))
                       ELSE (element_at(fr, CAST(size(fr) DIV 2 AS INT))
                             + element_at(fr, CAST(size(fr) DIV 2 + 1 AS INT))) / 2.0
                     END""")).as("med"))
        .orderBy("event_id")
    }),

    "ts_autocorr" -> ((s, d) => {
      // lag-1 autocorrelation per metric stream — the is-this-series-
      // predictable diagnostic (near 0: noise; near 1: trending/sticky).
      // Consecutive-pair formation is a lag() over each (user, type)
      // series — HIGH-cardinality window keys, so the sort parallelizes
      // across users at any scale — and the corr pools those pairs per
      // event_type as an EXPLICIT co-moment sketch over exact fixed-point
      // sums (the anomaly_zscore discipline: 4dp decimal values, 4dp
      // decimal products, all < 2^53 scaled — the DOUBLE casts and the
      // closed-form corr are then bit-identical cross-engine). Explicit
      // rather than builtin corr(): Spark's builtin divides by the
      // variance product inside the aggregate, which under ANSI ERRORS on
      // a constant-valued series (the dupkeys_nulls compound fixture
      // produced exactly that, round 9); here the degenerate case is a
      // try_divide-by-0 → NULL, DuckDB's x/0, on both engines. One window
      // shuffle + one partial agg; nothing is ever per-type sorted.
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      def v4(c: Column): Column = round(c, 4).cast(DecimalType(18, 4))
      def dd(c: Column): Column = c.cast(DoubleType)
      val p4 = (a: Column, b: Column) =>
        round(v4(a) * v4(b), 4).cast(DecimalType(30, 4))
      val g = events(s, d)
        .withColumn("prev", lag(col("value"), 1).over(w))
        .filter(col("prev").isNotNull && col("value").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(v4(col("value"))).as("sx"), sum(v4(col("prev"))).as("sy"),
          sum(p4(col("value"), col("prev"))).as("sxy"),
          sum(p4(col("value"), col("value"))).as("sxx"),
          sum(p4(col("prev"), col("prev"))).as("syy"))
      val cov = dd(col("n")) * dd(col("sxy")) - dd(col("sx")) * dd(col("sy"))
      val vx = dd(col("n")) * dd(col("sxx")) - dd(col("sx")) * dd(col("sx"))
      val vy = dd(col("n")) * dd(col("syy")) - dd(col("sy")) * dd(col("sy"))
      g.select(col("event_type"), col("n").as("n_pairs"),
          (r4(try_divide(cov,
            sqrt(when(vx <= 0, lit(0.0)).otherwise(vx)
              * when(vy <= 0, lit(0.0)).otherwise(vy)))) + lit(0.0)).as("autocorr"))
        .orderBy("event_type")
    }),

    "win_share" -> ((s, d) => {
      // percent-of-total within a group: line revenue / exact group total.
      // The denominator is an unbounded-frame decimal window sum — EXACT,
      // so the share is order- and parallelism-independent (a double sum
      // over a 100 TB partition would differ run to run). One shuffle on
      // the group key; output ordered by every emitted column because
      // (l_orderkey, l_linenumber) is NOT unique in the fixture.
      val w = Window.partitionBy("l_returnflag")
      lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          r4(col("l_extendedprice") /
            sum(dec(col("l_extendedprice"))).over(w).cast(DoubleType)).as("share"))
        .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "share")
    }),
    "win_distinct_count" -> ((s, d) => {
      // running COUNT(DISTINCT event_type) per user — Spark (like most
      // engines) rejects DISTINCT aggregates in a window frame, so it is
      // re-expressed scale-safely: mark each (user, type)'s FIRST
      // occurrence with one window, running-sum the 0/1 marks with a
      // second window on the same user partitioning (both windows shuffle
      // on user_id once — Catalyst reuses the exchange; no per-frame set
      // state, unlike a naive collect_set-over-window which would carry
      // O(|types|) per row). The explicit repartition on user_id ALONE
      // serves both windows: HashPartitioning(user_id) satisfies the
      // (user_id, event_type) window's ClusteredDistribution (subset
      // rule), so the plan has ONE exchange + two local sorts instead of
      // two full shuffles — at 100 TB that halves the movement.
      val first = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      val run = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .repartition(col("user_id"))
        .withColumn("rn", row_number().over(first))
        .select(col("event_id"), col("user_id"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).over(run).as("n_types"))
        .orderBy("event_id")
    }),

    "win_topk_group" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc_nulls_last, col("o_orderkey"))
      orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    }),

    "win_streaks" -> ((s, d) => {
      // gaps-and-islands: per user, the longest run of CONSECUTIVE
      // same-type events in their timeline (and how many runs there
      // were) — the engagement-streak / repeated-failure shape. The
      // classic two-row_number difference needs windows over two
      // different partition keys (two exchanges); this is the one-key
      // form: a lag-based change flag and its running sum — BOTH window
      // functions share one (user_id)-partitioned, (ts, event_id)-
      // ordered spec, so Catalyst plans ONE exchange + ONE sort, then
      // two partial-aggregated groupBys. Total order per user is pinned
      // by the event_id tie-break, so island ids — and with them streak
      // lengths — are parallelism- and engine-independent.
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, d)
        .withColumn("chg",
          when(lag(col("event_type"), 1).over(w) === col("event_type"), lit(0L))
            .otherwise(lit(1L)))
        .withColumn("island",
          sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "event_type", "island")
        .agg(count(lit(1)).as("len"))
        .groupBy("user_id", "event_type")
        .agg(max(col("len")).as("max_streak"), count(lit(1)).as("n_streaks"))
        .orderBy("user_id", "event_type")
    }),

    "streaks_bucketed" -> ((s, d) => {
      // DAY-BUCKETED pre-split win_streaks — the hot-entity escape hatch
      // (round 12, the sessionize_bucketed template): the plain key's
      // per-user lag+cumsum sorts ONE entity's whole history in one task.
      // day is monotone in ts, so runs are decided locally per (user,
      // day) bucket, then merged over ONE ROW PER RUN: within a bucket
      // adjacent runs always differ in type, so two consecutive runs in
      // the per-user run order can only share a type at a bucket
      // boundary — exactly the splits the bucketing introduced. The
      // second lag+cumsum over the runs table re-merges them (chains — a
      // streak spanning 3+ days — fall out of the running sum), and
      // max/count aggregate the merged lengths. The serial pass is
      // bounded by the RUN count, not the event count: the hatch wins
      // exactly when streaks are long (the regime the key exists to
      // find); a degenerate strictly-alternating stream keeps runs ≈
      // events, where no decomposition can shrink an order-dependent
      // serial scan. Result provably equals the plain plan — the oracle
      // IS win_streaks' SQL.
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
        .withColumn("__chg2",
          when(lag(col("event_type"), 1).over(wR) === col("event_type"), lit(0L))
            .otherwise(lit(1L)))
        .withColumn("__isl2", sum(col("__chg2"))
          .over(wR.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "event_type", "__isl2")
        .agg(sum(col("__len")).as("len"))
        .groupBy("user_id", "event_type")
        .agg(max(col("len")).as("max_streak"), count(lit(1)).as("n_streaks"))
        .orderBy("user_id", "event_type")
    }),

    "cohort_retention" -> ((s, d) => {
      // the weekly cohort-retention triangle — product analytics' core
      // table: users cohorted by the week of their FIRST event; for
      // each (cohort, week-offset), how many came back, and what share
      // of the cohort that is. Plan: first-event week per user is one
      // partial-aggregated groupBy(user) min — NOT a window over the
      // event stream; per-user-week activity is a distinct on truncated
      // weeks; the two join user-keyed. The final (cohort, offset)
      // rollup is |weeks|² rows, and the offset-0 base table joined
      // back for the rate is |cohorts| rows — time-bounded, not
      // corpus-bounded, hence safely broadcast at any scale. Both
      // engines truncate to ISO Monday weeks and the rate divides exact
      // BIGINTs, so the 4dp rounding is stable.
      val ev = events(s, d)
      val cohort = ev.groupBy("user_id").agg(min(col("ts")).as("first_ts"))
        .select(col("user_id"), date_trunc("week", col("first_ts")).as("cw"))
      val active = ev.select(col("user_id"), date_trunc("week", col("ts")).as("w"))
        .distinct()
      val counts = active.join(cohort, "user_id")
        .select(col("cw"), expr("datediff(w, cw) div 7").as("week_offset"))
        .groupBy("cw", "week_offset")
        .agg(count(lit(1)).as("n_users"))
        .localCheckpoint(true) // §19 C12: kept, the base filter pushes down and re-joins events
      val base = counts.filter(col("week_offset") === 0)
        .select(col("cw"), col("n_users").as("base_users"))
      counts.join(broadcast(base), "cw")
        .select(col("cw").cast(DateType).as("cohort_week"), col("week_offset"),
          col("n_users"), col("base_users"),
          ratio4("n_users", "base_users").as("retention"))
        .orderBy("cohort_week", "week_offset")
    })
  )

  /** 4-hour-inactivity-gap session tagging over the (user_id, (ts,
    * event_id)) total order — THE session definition, shared by the
    * sessionize key and concurrency_peak (Analytics.scala) so the two
    * can never drift: adds `session_seq` (1-based per user) via one
    * per-user keyed window (lag → new-session flag → running count).
    * Internal columns are namespaced (__sess_*) and dropped on exit so
    * caller schemas can't be clobbered.
    */
  private[graft] val sessionGapUs: Long = 4L * 3600 * 1000000L
  private[graft] def sessionTag(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val us = unix_micros(col("ts"))
    ev.withColumn("__sess_prev_us", lag(us, 1).over(w))
      .withColumn("__sess_new",
        when(col("__sess_prev_us").isNull ||
          us - col("__sess_prev_us") > sessionGapUs, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("__sess_new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__sess_prev_us", "__sess_new")
  }

  /** Hot-entity auto-switch knob (round 13, verdict item 1). The
    * per-entity-serial keys (sessionize, event_transitions) sort one
    * entity's entire history in ONE task; HOTPROBE.json measures the
    * resulting cliff past ~10⁶–2·10⁶ events/entity (sessionize crossover
    * ~2 M, event_transitions ~1 M) while their day-bucketed
    * decompositions hold near-flat. 10⁶ is the conservative joint
    * cutoff: at 1 M the bucketed plans cost within ~15% of plain
    * (HOTPROBE row 2), so switching slightly early is pennies, and every
    * fixture sits orders of magnitude below — the knob is gate-neutral
    * (fixture plans are the plain plans, bit-identical results).
    */
  private[graft] val hotEntityCutoff: Long = 1000000L

  /** Largest per-entity event count — the knob's measurement: one keyed
    * count (map-side partial agg, |users| group rows) folded to a single
    * max. This is collect-the-AGGREGATE (one row to the driver), never a
    * corpus-proportional collect; NULL user_id counts as one pseudo-user,
    * matching the window partitioning both consumers use. Empty input
    * → 0 (plain plan).
    */
  private[graft] def maxEventsPerEntity(ev: DataFrame): Long = {
    val r = ev.groupBy("user_id").agg(count(lit(1)).as("__n"))
      .agg(max(col("__n"))).first()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Session-level aggregate shared by the plain and day-bucketed
    * sessionize plans — both deliver (user_id, session_seq)-tagged event
    * rows; this is the one definition of what a session REPORTS.
    * Entry/exit types via lexicographic struct min/max, NOT min_by(x,
    * ts): (ts, event_id) is the session's total order — a bare ts key
    * would pick an arbitrary event_type between tied timestamps.
    */
  private def sessionAgg(tagged: DataFrame): DataFrame = {
    val us = unix_micros(col("ts"))
    tagged.groupBy("user_id", "session_seq")
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
  }

  /** DAY-BUCKETED pre-split sessionize — the hot-entity decomposition
    * (round-10 verdict item 1; PERF.md §8.2; auto-selected since round
    * 13): plain sessionize's per-user window sorts ONE entity's entire
    * history in one task, measured safe only to ~10⁶ rows/entity.
    * Sequence-dependent gap logic can't salt, but it CAN pre-split on
    * (user, day) because day is monotone in ts: the global (ts,
    * event_id) order is exactly the day-bucket orders concatenated, so
    * sessions are decided locally per day-bucket and only the
    * BUCKET-BOUNDARY merges (first local session of a day continuing
    * the previous day's last) need a second pass — over SESSION rows
    * (one per local session), never events. Three shuffles, all keyed:
    * the (user, day) window, the session-level stitch window, and the
    * (user, day, local_seq) merge-locked join-back (session map is
    * corpus-proportional — the static-broadcast-OOM discipline). The
    * hot task shrinks from |entity history| to |entity·day|. Result
    * provably equals plain sessionize — the oracle IS sessionize's
    * gaps-and-islands SQL.
    */
  private[graft] def sessionizeBucketed(ev: DataFrame): DataFrame = {
    val us = unix_micros(col("ts"))
    // phase 1: bucket-local session tag — sessionTag's exact flag
    // expression, window keyed on (user_id, day). NULL ts → NULL day
    // bucket, which sorts first like NULL ts does globally; its rows
    // all have NULL prev_us, so each is its own session — identical to
    // the unbucketed flag's NULL semantics.
    val wLocal = Window.partitionBy("user_id", "__day")
      .orderBy(col("ts"), col("event_id"))
    val tagged = ev.withColumn("__day", to_date(col("ts")))
      .withColumn("__prev_us", lag(us, 1).over(wLocal))
      .withColumn("__new_local",
        when(col("__prev_us").isNull || us - col("__prev_us") > sessionGapUs, 1L)
          .otherwise(0L))
      .withColumn("__local_seq", sum(col("__new_local"))
        .over(wLocal.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev_us", "__new_local")
    // phase 2: boundary stitch over ONE row per local session. A local
    // session merges into its predecessor iff the boundary gap ≤ 4 h —
    // within a bucket that's impossible by construction (local tagging
    // split them at > 4 h), so no special first-of-bucket case is
    // needed; chains (a session spanning 3+ days) fall out of the
    // running sum. An empty calendar day between events is > 24 h > 4 h,
    // so only the chronologically previous session matters.
    val sessLocal = tagged
      .groupBy(col("user_id"), col("__day"), col("__local_seq"))
      .agg(min(us).as("__first_us"), max(us).as("__last_us"))
    val wSess = Window.partitionBy("user_id")
      .orderBy(col("__day"), col("__local_seq"))
    val globalMap = sessLocal
      .withColumn("__prev_last_us", lag(col("__last_us"), 1).over(wSess))
      .withColumn("__new_global",
        when(col("__prev_last_us").isNotNull && col("__first_us").isNotNull &&
          col("__first_us") - col("__prev_last_us") <= sessionGapUs, 0L)
          .otherwise(1L))
      .withColumn("session_seq", sum(col("__new_global"))
        .over(wSess.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id").as("__m_uid"), col("__day").as("__m_day"),
        col("__local_seq").as("__m_seq"), col("session_seq"))
    // null-SAFE equality on user_id as well as day: window partitionBy
    // groups NULL users into one pseudo-user (matching the oracle's
    // PARTITION BY), so the join-back must not drop their rows — ===
    // on a NULL key silently lost every NULL-user session (caught by
    // the nulls_ties edge variant, round 11)
    sessionAgg(tagged.join(globalMap.hint("merge"),
      (tagged("user_id") <=> col("__m_uid")) &&
        (tagged("__day") <=> col("__m_day")) &&
        tagged("__local_seq") === col("__m_seq")))
  }

  /** Matrix rollup shared by both event_transitions plans: |types|²-
    * bounded count agg; row totals derive from the MATRIX (25 rows,
    * broadcast back), never a second event pass; probabilities are
    * exact integer basis points.
    */
  private def transitionMatrix(pairs: DataFrame): DataFrame = {
    val tr = pairs.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
    val tot = tr.groupBy("from_type").agg(sum(col("n")).as("n_from"))
    tr.join(broadcast(tot), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        expr("n * 10000 div n_from").as("p_bp"))
      .orderBy("from_type", "to_type")
  }

  /** Plain (single per-user window) transition pairs — one user-keyed
    * lead over the (ts, event_id) total order.
    */
  private[graft] def transitionsPlain(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    transitionMatrix(ev
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .select(col("event_type").as("from_type"), col("next_type").as("to_type")))
  }

  /** DAY-BUCKETED pre-split event_transitions — the hot-entity
    * decomposition (round 12, the sessionizeBucketed template;
    * auto-selected since round 13): day is monotone in ts, so the
    * per-user event order is exactly the day-bucket orders
    * concatenated: within-bucket transitions come from a (user,
    * day)-keyed window (hot task bounded by one user-day), and the only
    * missing pairs — last event of a bucket → first event of the NEXT
    * OCCUPIED bucket — come from a second window over ONE summary row
    * per (user, day) (calendar-bounded per user, never event-bounded).
    * NULL ts rows form the NULL-day bucket, which sorts first exactly
    * like NULL ts does in the plain global order. Result provably
    * equals the plain plan — the oracle IS event_transitions' SQL.
    */
  private[graft] def transitionsBucketed(ev0: DataFrame): DataFrame = {
    val wB = Window.partitionBy("user_id", "__day")
      .orderBy(col("ts"), col("event_id"))
    val ev = ev0.withColumn("__day", to_date(col("ts")))
    val within = ev
      .withColumn("next_type", lead(col("event_type"), 1).over(wB))
      .filter(col("next_type").isNotNull)
      .select(col("event_type").as("from_type"), col("next_type").as("to_type"))
    // first/last event type per bucket via the (ts, event_id) total
    // order folded into a struct min/max — the sessionizeBucketed
    // entry/exit-type idiom
    val summary = ev.groupBy(col("user_id"), col("__day"))
      .agg(min(struct(col("ts"), col("event_id"), col("event_type")))
          .getField("event_type").as("first_type"),
        max(struct(col("ts"), col("event_id"), col("event_type")))
          .getField("event_type").as("last_type"))
    val wS = Window.partitionBy("user_id").orderBy(col("__day"))
    val bounds = summary
      .withColumn("next_first", lead(col("first_type"), 1).over(wS))
      .filter(col("next_first").isNotNull)
      .select(col("last_type").as("from_type"), col("next_first").as("to_type"))
    transitionMatrix(within.unionByName(bounds))
  }

  /** Per-user first-time stage tables (view → first click after the view
    * → first purchase after that click) — shared by funnel_conversion and
    * funnel_time_to_convert so both describe the SAME funnel definition:
    * each stage is the min event time STRICTLY AFTER the user's
    * previous-stage time (the sequence constraint real funnel analytics
    * needs — a click before any view doesn't count). Each stage is one
    * user-keyed join + one user-keyed partial agg: every stage shuffles
    * on the same key, each conversion set only shrinks, nothing is
    * global — the shape that holds when events are 100 TB.
    */
  private def funnelStages(ev: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    def stage(t: String) = ev.filter(col("event_type") === t)
    val v = stage("view").groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val c = stage("click").join(v, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min(col("ts")).as("t_click"))
    val p = stage("purchase").join(c, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
    (v, c, p)
  }

  /** Stage-count rollup of funnelStages. Takes the event frame as a
    * parameter so specs can feed crafted orderings.
    */
  def funnel(ev: DataFrame): DataFrame = {
    val (v, c, p) = funnelStages(ev)
    v.agg(count(lit(1)).as("n_users")).select(lit("1_view").as("stage"), col("n_users"))
      .unionByName(c.agg(count(lit(1)).as("n_users"))
        .select(lit("2_click_after_view").as("stage"), col("n_users")))
      .unionByName(p.agg(count(lit(1)).as("n_users"))
        .select(lit("3_purchase_after_click").as("stage"), col("n_users")))
      .orderBy("stage")
  }

  /** Two-phase GLOBAL running aggregate — prefix-inclusive sum of
    * `value` over the total order `order` — WITHOUT a single-partition
    * window (round-2 verdict: a global `Window.orderBy` forces the whole
    * table through ONE task). This is THE scaffold for every global
    * cumulative in the repo — globalNtile (value 1 → global rank),
    * abc_analysis (decimal revenue cumsum), concurrency_peak's ±1 delta
    * cumsum (Analytics.scala) — so the subtle parts live once:
    *
    *   1. range-repartition on the order columns — each partition holds
    *      a contiguous, disjoint key range — with an EAGER checkpoint:
    *      repartitionByRange SAMPLES its boundaries per job, so without
    *      materialization the offsets subtree and the final join could
    *      land rows in different partitions (observed as ±1 quartile
    *      flips at sf0.01); the big sort also runs once, reused by both
    *      passes. Then the local running sum per partition-id window
    *      (every frame bounded by a range-partition's size);
    *   2. per-partition totals (≤ #partitions rows — bounded by cluster
    *      width, not data size) are folded into EXCLUSIVE prefix offsets
    *      IN-PLAN (round 18): a window over the bounded pid-sum aggregate
    *      — the one deliberate single-partition window in the repo,
    *      bounded by cluster width by construction — broadcast-joined
    *      back: global running = offset + local running. The value's
    *      OWN EXACT type (int64 or decimal — never a double) throughout.
    *      Replaces the round-17 driver collect + re-submitted offsets
    *      frame: one action per call (the checkpoint), no driver
    *      round-trip in any query path.
    *
    * Correctness does not depend on where the sampled boundaries fall:
    * offset + local prefix is exact for any contiguous ordered
    * partitioning. `order` must be a unique total order or the result is
    * nondeterministic. Returns the frame with `out` appended and a 1-row
    * grand-total frame (column __grn_tot, same exact type) for callers
    * that need n/total — consumed via crossJoin(broadcast(_)), never
    * collected. Internal columns are namespaced __grn_* with a loud
    * collision guard.
    */
  private[graft] val cTot = "__grn_tot"
  private[graft] def globalRunning(df: DataFrame, order: Seq[Column],
      value: Column, out: String): (DataFrame, DataFrame) = {
    val s = df.sparkSession
    val (cPid, cLoc, cOff, cSm) = ("__grn_pid", "__grn_loc", "__grn_off", "__grn_sm")
    val reserved = Set(cPid, cLoc, cOff, cSm, cTot)
    val clash = df.columns.toSet.intersect(reserved) ++
      (if (reserved(out)) Set(out) else Set.empty[String])
    require(clash.isEmpty,
      s"globalRunning: reserved internal column name(s) in use: ${clash.mkString(", ")}")
    val parts = s.sparkContext.defaultParallelism
    val ranged = df.repartitionByRange(parts, order: _*)
      .withColumn(cPid, spark_partition_id())
      .localCheckpoint(true) // §19 A1: freezes the sampled range boundaries (step 1)
    val wLoc = Window.partitionBy(cPid).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = ranged.withColumn(cLoc, sum(value).over(wLoc))
    val dt = local.schema(cLoc).dataType
    val zero = lit(0).cast(dt)
    // sum() over an all-NULL partition returns NULL; window/total sums
    // skip NULL inputs and coalesce to typed zero, so a NULL-dense value
    // column cannot poison the offset fold (the scaffold is reused;
    // callers today pass non-null values but must not have to).
    val pidSums = ranged.groupBy(cPid).agg(sum(value).cast(dt).as(cSm))
    val wOff = Window.orderBy(cPid)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = pidSums
      .withColumn(cOff, coalesce(sum(col(cSm)).over(wOff).cast(dt), zero))
      .select(col(cPid), col(cOff))
    val totDf = pidSums
      .agg(coalesce(sum(col(cSm)).cast(dt), zero).as(cTot))
    val outDf = local.join(broadcast(offs), cPid)
      .withColumn(out, col(cOff) + col(cLoc))
      .drop(cPid, cLoc, cOff)
    (outDf, totDf)
  }

  /** Global NTILE(k) over a total order via [[globalRunning]] with a
    * constant value of 1 (running count = global rank), bucketed with
    * the standard NTILE remainder formula (first n%k buckets get one
    * extra row — DuckDB/ANSI semantics, hash-verified in the win_ntile
    * oracle and property-tested against NTILE on random tables). No
    * single-partition exchange or global window appears anywhere in the
    * plan — PlanEvidenceSpec asserts this over every Window subtree.
    */
  private[graft] def globalNtile(df: DataFrame, k: Int,
                                     order: Seq[Column], out: String): DataFrame = {
    val (cRn, cN) = ("__gnt_rank", "__gnt_n")
    require(!df.columns.contains(cRn) && out != cRn,
      s"globalNtile: reserved internal column name in use: $cRn")
    val (ranked, totDf) = globalRunning(df, order, lit(1L), cRn)
    // n rides in as a broadcast 1-row column (round 18) — the formula is
    // identical to the old driver-literal form, evaluated in-plan
    ranked.crossJoin(broadcast(totDf.select(col(cTot).as(cN))))
      .withColumn(out, expr(
        s"CAST(CASE WHEN $cRn <= ($cN % $k) * ($cN div $k + 1) " +
        s"THEN ($cRn - 1) div ($cN div $k + 1) + 1 " +
        s"ELSE ($cN % $k) + ($cRn - ($cN % $k) * ($cN div $k + 1) - 1) div ($cN div $k) + 1 " +
        s"END AS INT)"))
      .drop(cRn, cN)
  }

  private def winNtile(s: SparkSession, d: String): DataFrame =
    globalNtile(orders(s, d).select(col("o_orderkey"), col("o_totalprice")),
        4, Seq(col("o_totalprice"), col("o_orderkey")), "quartile")
      .select("o_orderkey", "quartile")
      .orderBy("o_orderkey")

  /** DuckDB CTE chain mirroring [[funnelStages]] — shared by the
    * funnel_conversion and funnel_time_to_convert oracles exactly as the
    * Scala helper is.
    */
  private val funnelCtes: String =
    """v AS (SELECT user_id, min(ts) AS t_view FROM events
            WHERE event_type = 'view' GROUP BY 1),
       c AS (SELECT e.user_id, min(e.ts) AS t_click
             FROM events e JOIN v ON e.user_id = v.user_id
             WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
       p AS (SELECT e.user_id, min(e.ts) AS t_purchase
             FROM events e JOIN c ON e.user_id = c.user_id
             WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)"""

  /** Shared by sessionize AND sessionize_bucketed: the bucketed plan's
    * whole claim is exact equality with the plain gaps-and-islands
    * definition, so both keys gate against the SAME SQL — any drift
    * between the two Spark plans fails one of them.
    */
  private val sessionizeOracle =
    """WITH marked AS (
         SELECT user_id, ts, event_id, event_type, value,
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
         FROM flagged)
       SELECT user_id, session_seq,
         min(ts) AS session_start, max(ts) AS session_end,
         max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us,
         count(*) AS n_events,
         min({'ts': ts, 'event_id': event_id, 'event_type': event_type}).event_type AS entry_type,
         max({'ts': ts, 'event_id': event_id, 'event_type': event_type}).event_type AS exit_type,
         CAST(round(sum(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_value
       FROM numbered GROUP BY 1, 2
       ORDER BY user_id NULLS FIRST, session_seq NULLS FIRST"""

  /** Shared by win_streaks and streaks_bucketed — equality with the plain
    * gaps-and-islands SQL IS the bucketed plan's contract (the
    * sessionizeOracle convention).
    */
  private val winStreaksOracle: String =
      """WITH o AS (
           SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER
                    (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST) = event_type
                  THEN 0 ELSE 1 END AS chg
           FROM events),
         i AS (
           SELECT user_id, event_type,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                            ROWS UNBOUNDED PRECEDING) AS island
           FROM o),
         r AS (SELECT user_id, event_type, island, count(*) AS len
               FROM i GROUP BY 1, 2, 3)
         SELECT user_id, event_type,
           CAST(max(len) AS BIGINT) AS max_streak,
           CAST(count(*) AS BIGINT) AS n_streaks
         FROM r GROUP BY 1, 2
         ORDER BY user_id NULLS FIRST, event_type NULLS FIRST"""

  /** Shared by event_transitions and event_transitions_bucketed. */
  private val eventTransitionsOracle: String =
      """WITH n AS (SELECT event_type AS from_type,
                 lead(event_type, 1) OVER (PARTITION BY user_id
                   ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS to_type
               FROM events),
         tr AS (SELECT from_type, to_type, count(*) AS n FROM n
                WHERE to_type IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT from_type, sum(n) AS n_from FROM tr GROUP BY 1)
         SELECT tr.from_type, tr.to_type, CAST(tr.n AS BIGINT) AS n,
           CAST(tr.n * 10000 // t.n_from AS BIGINT) AS p_bp
         FROM tr JOIN tot t USING (from_type)
         ORDER BY from_type NULLS FIRST, to_type NULLS FIRST"""

  val oracles: Map[String, String] = Map(
    "win_streaks" -> winStreaksOracle,
    "streaks_bucketed" -> winStreaksOracle,
    "event_transitions_bucketed" -> eventTransitionsOracle,
    "cohort_retention" ->
      s"""WITH cohort AS (
           SELECT user_id, date_trunc('week', min(ts)) AS cw
           FROM events GROUP BY 1),
         active AS (
           SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events),
         counts AS (
           SELECT cw, date_diff('day', cw, w) // 7 AS week_offset,
             count(*) AS n_users
           FROM active JOIN cohort USING (user_id)
           GROUP BY 1, 2),
         base AS (
           SELECT cw, n_users AS base_users FROM counts WHERE week_offset = 0)
         SELECT CAST(c.cw AS DATE) AS cohort_week,
           CAST(c.week_offset AS BIGINT) AS week_offset,
           CAST(c.n_users AS BIGINT) AS n_users,
           CAST(b.base_users AS BIGINT) AS base_users,
           ${ratio4Duck("c.n_users", "b.base_users")} AS retention
         FROM counts c JOIN base b USING (cw)
         ORDER BY cohort_week NULLS FIRST, week_offset NULLS FIRST""",
    "win_row_number" ->
      """SELECT o_orderkey, o_custkey,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST) AS rn
         FROM orders ORDER BY o_orderkey NULLS FIRST""",
    "win_rank" ->
      """SELECT o_orderkey,
         rank() OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority NULLS FIRST) AS rnk,
         dense_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority NULLS FIRST) AS drnk
         FROM orders ORDER BY o_orderkey NULLS FIRST""",
    "win_ntile" ->
      """SELECT o_orderkey,
         ntile(4) OVER (ORDER BY o_totalprice NULLS FIRST, o_orderkey NULLS FIRST) AS quartile
         FROM orders ORDER BY o_orderkey NULLS FIRST""",
    "win_percent" ->
      """SELECT o_orderkey,
         round(percent_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice NULLS FIRST), 4) AS pr,
         round(cume_dist() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice NULLS FIRST), 4) AS cd
         FROM orders ORDER BY o_orderkey NULLS FIRST""",
    "win_lag_lead" ->
      """SELECT event_id, user_id,
         lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS prev_value,
         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS next_type
         FROM events ORDER BY event_id NULLS FIRST""",
    "win_running_sum" ->
      """SELECT o_orderkey, o_custkey,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS DOUBLE) AS run_total
         FROM orders ORDER BY o_orderkey NULLS FIRST""",
    "win_moving_avg" ->
      """SELECT l_orderkey, l_linenumber,
         round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) OVER w AS DOUBLE) /
               count(*) OVER w, 4) AS mavg_qty
         FROM lineitem
         WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST, l_partkey NULLS FIRST
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
         ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST, mavg_qty NULLS FIRST""",
    "win_range_frame" ->
      """SELECT event_id, event_type, es,
         CAST(round(sum(CAST(value AS DECIMAL(18,4))) OVER (
           PARTITION BY event_type ORDER BY es NULLS FIRST
           RANGE BETWEEN 300 PRECEDING AND CURRENT ROW), 4) AS DOUBLE) AS sum_5min
         FROM (SELECT event_id, event_type, epoch_us(ts)//1000000 AS es, value FROM events)
         ORDER BY event_id NULLS FIRST""",
    "win_first_last" ->
      """SELECT o_orderkey, o_custkey,
         first_value(o_orderkey) OVER w AS first_order,
         last_value(o_orderkey) OVER w AS last_order
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY o_orderkey NULLS FIRST""",
    "win_nth_value" ->
      """SELECT o_orderkey, o_custkey,
         nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_order
         FROM orders ORDER BY o_orderkey NULLS FIRST""",
    "sessionize" -> sessionizeOracle,
    "sessionize_bucketed" -> sessionizeOracle,
    "win_fill_forward" ->
      """SELECT event_id, user_id, v,
         last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
         lag(v, 1 IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS prev_reading
         FROM (SELECT *, CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
               FROM events)
         ORDER BY event_id NULLS FIRST""",
    "ts_interpolate" ->
      """WITH hourly AS (
           SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             CAST(sum(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) // count(*)
               AS v_u
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
         grid AS (
           SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
           FROM (SELECT user_id, min(hour) AS h0, max(hour) AS h1
                 FROM hourly GROUP BY 1)),
         j AS (
           SELECT g.user_id, g.hour, h.v_u,
             last_value(h.v_u IGNORE NULLS) OVER wb AS pv,
             last_value(CASE WHEN h.v_u IS NOT NULL THEN g.hour END IGNORE NULLS)
               OVER wb AS ph,
             first_value(h.v_u IGNORE NULLS) OVER wa AS nv,
             first_value(CASE WHEN h.v_u IS NOT NULL THEN g.hour END IGNORE NULLS)
               OVER wa AS nh
           FROM grid g LEFT JOIN hourly h
             ON h.user_id = g.user_id AND h.hour = g.hour
           WINDOW
             wb AS (PARTITION BY g.user_id ORDER BY g.hour NULLS FIRST
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wa AS (PARTITION BY g.user_id ORDER BY g.hour NULLS FIRST
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT user_id, hour,
           CAST(CASE WHEN v_u IS NOT NULL THEN v_u
             -- epoch() is DOUBLE in DuckDB (and // on doubles is plain
             -- division) — CAST to BIGINT (exact: whole-hour timestamps)
             -- so the division is the same truncating integer DIV Spark runs
             ELSE pv + ((nv - pv) *
                    (CAST(epoch(hour) AS BIGINT) - CAST(epoch(ph) AS BIGINT)))
                    // (CAST(epoch(nh) AS BIGINT) - CAST(epoch(ph) AS BIGINT))
             END AS DOUBLE) / 10000.0
             AS v_interp,
           v_u IS NULL AS is_gap
         FROM j ORDER BY user_id NULLS FIRST, hour NULLS FIRST""",
    "scd2_history" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate AS valid_from,
         lead(o_orderdate, 1) OVER w AS valid_to,
         lead(o_orderdate, 1) OVER w IS NULL AS is_current
         FROM orders WHERE o_custkey < 50
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST)
         ORDER BY o_custkey NULLS FIRST, valid_from NULLS FIRST, o_orderkey NULLS FIRST""",
    "funnel_conversion" ->
      s"""WITH $funnelCtes
         SELECT * FROM (
           SELECT '1_view' AS stage, count(*) AS n_users FROM v
           UNION ALL SELECT '2_click_after_view', count(*) FROM c
           UNION ALL SELECT '3_purchase_after_click', count(*) FROM p)
         ORDER BY stage NULLS FIRST""",
    "event_transitions" -> eventTransitionsOracle,
    "abc_analysis" ->
      """WITH r AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
                    FROM orders GROUP BY 1),
         c AS (SELECT o_custkey, rev,
                 sum(rev) OVER (ORDER BY rev DESC NULLS LAST, o_custkey NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM r),
         t AS (SELECT sum(rev) AS total FROM r)
         SELECT o_custkey AS c_custkey, CAST(rev AS DOUBLE) AS revenue,
           CASE WHEN cum * 100 <= total * 80 THEN 'A'
                WHEN cum * 100 <= total * 95 THEN 'B' ELSE 'C' END AS cls
         FROM c, t ORDER BY c_custkey NULLS FIRST""",
    "funnel_time_to_convert" ->
      s"""WITH $funnelCtes
         SELECT v.user_id,
           (epoch_us(t_purchase) - epoch_us(t_view)) // 1000000 AS total_secs,
           (epoch_us(t_purchase) - epoch_us(t_click)) // 1000000 AS last_hop_secs
         FROM v JOIN c ON c.user_id = v.user_id
                JOIN p ON p.user_id = v.user_id
         ORDER BY v.user_id NULLS FIRST""",
    "win_topk_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC NULLS LAST, o_orderkey NULLS FIRST) AS rn
           FROM orders)
         WHERE rn <= 3
         ORDER BY o_custkey NULLS FIRST, rn NULLS FIRST""",
    "win_rolling_median" ->
      """SELECT event_id, user_id,
         round(median(value) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 4) AS med
         FROM events ORDER BY event_id NULLS FIRST""",
    "ts_autocorr" ->
      // explicit fixed-point co-moment corr — identical formula text to
      // the Spark side (see the key's scaladoc: builtin corr() ANSI-errors
      // on constant series; sqrt args are clamped at 0 so a cancellation
      // hair below zero cannot error DuckDB's sqrt)
      """WITH p AS (
           SELECT event_type, value,
             lag(value) OVER (PARTITION BY user_id, event_type
               ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS prev
           FROM events),
         g AS (
           SELECT event_type, count(*) AS n,
             sum(CAST(round(value, 4) AS DECIMAL(18,4))) AS sx,
             sum(CAST(round(prev, 4) AS DECIMAL(18,4))) AS sy,
             sum(CAST(round(CAST(round(value, 4) AS DECIMAL(18,4))
                            * CAST(round(prev, 4) AS DECIMAL(18,4)), 4)
                      AS DECIMAL(30,4))) AS sxy,
             sum(CAST(round(CAST(round(value, 4) AS DECIMAL(18,4))
                            * CAST(round(value, 4) AS DECIMAL(18,4)), 4)
                      AS DECIMAL(30,4))) AS sxx,
             sum(CAST(round(CAST(round(prev, 4) AS DECIMAL(18,4))
                            * CAST(round(prev, 4) AS DECIMAL(18,4)), 4)
                      AS DECIMAL(30,4))) AS syy
           FROM p WHERE prev IS NOT NULL AND value IS NOT NULL
           GROUP BY 1)
         SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0
                              THEN 0.0
                              ELSE CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) END)
                        * (CASE WHEN CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <= 0
                                THEN 0.0
                                ELSE CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) END)),
                 4) + 0.0 AS autocorr
         FROM g ORDER BY event_type NULLS FIRST""",
    "win_share" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag,
         round(l_extendedprice / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
           OVER (PARTITION BY l_returnflag) AS DOUBLE), 4) AS share
         FROM lineitem
         ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST,
                  l_returnflag NULLS FIRST, share NULLS FIRST""",
    "win_distinct_count" ->
      """SELECT event_id, user_id,
         CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) OVER (
           PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_types
         FROM (SELECT event_id, user_id, ts, event_type,
                 row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS rn
               FROM events)
         ORDER BY event_id NULLS FIRST""",
    "resample_ohlc" ->
      // DuckDB date_trunc('day', ts) yields DATE (Spark yields TIMESTAMP) —
      // the CAST re-aligns the bar type; struct min/max picks open/close
      // with the same (ts, event_id) total order as the Spark side
      """SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bar,
         min({'ts': ts, 'event_id': event_id, 'value': value}).value AS open,
         max(value) AS high, min(value) AS low,
         max({'ts': ts, 'event_id': event_id, 'value': value}).value AS close,
         count(*) AS n_events,
         CAST(round(sum(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2
         ORDER BY event_type NULLS FIRST, bar NULLS FIRST""",
    "win_ewma" ->
      // identical 8-term truncated kernel, identical left-associated fold:
      // weights are exact dyadics so every product/sum is the same double
      // in both engines; explicit DOUBLE casts keep DuckDB's decimal
      // literal inference out of the arithmetic
      """WITH t AS (
           SELECT event_id, user_id, value,
             lag(value, 1) OVER w AS x1, lag(value, 2) OVER w AS x2,
             lag(value, 3) OVER w AS x3, lag(value, 4) OVER w AS x4,
             lag(value, 5) OVER w AS x5, lag(value, 6) OVER w AS x6,
             lag(value, 7) OVER w AS x7
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST))
         SELECT event_id, user_id, value,
           round((
               CASE WHEN value IS NOT NULL THEN value * CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
             + CASE WHEN x1 IS NOT NULL THEN x1 * CAST(0.5 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
             + CASE WHEN x2 IS NOT NULL THEN x2 * CAST(0.25 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
             + CASE WHEN x3 IS NOT NULL THEN x3 * CAST(0.125 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
             + CASE WHEN x4 IS NOT NULL THEN x4 * CAST(0.0625 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
             + CASE WHEN x5 IS NOT NULL THEN x5 * CAST(0.03125 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
             + CASE WHEN x6 IS NOT NULL THEN x6 * CAST(0.015625 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
             + CASE WHEN x7 IS NOT NULL THEN x7 * CAST(0.0078125 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
           ) / NULLIF((
               CASE WHEN value IS NOT NULL THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
             + CASE WHEN x1 IS NOT NULL THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
             + CASE WHEN x2 IS NOT NULL THEN CAST(0.25 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
             + CASE WHEN x3 IS NOT NULL THEN CAST(0.125 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
             + CASE WHEN x4 IS NOT NULL THEN CAST(0.0625 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
             + CASE WHEN x5 IS NOT NULL THEN CAST(0.03125 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
             + CASE WHEN x6 IS NOT NULL THEN CAST(0.015625 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
             + CASE WHEN x7 IS NOT NULL THEN CAST(0.0078125 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
           ), CAST(0.0 AS DOUBLE)), 4) AS ewma
         FROM t ORDER BY event_id NULLS FIRST"""
  )
}
