package graft

import org.apache.spark.sql.functions._

/** Focused hot-entity experiment (round 11, verdict item 1's evidence row;
  * round 12 extends it to every per-entity-serial key).
  *
  * The skew rehearsal (25%/50% hot key over ×k fixture replicas) tops out
  * around 5·10⁵ rows on the hot entity — where a single-task per-user
  * window sort is still sub-second, so plain `sessionize` and the
  * day-bucketed pre-split read EQUALLY flat and the escape hatch shows
  * only its overhead. This main synthesizes the regime the rehearsal
  * cannot reach: ONE user owning n events spread uniformly over a year
  * (plus a 10%-of-n background population of normal users), and times
  * each plain key vs its bucketed twin head-to-head at growing n. The
  * expected shape: the plain plan's wall grows with n ON ONE TASK
  * (serial sort + serial window scan — the 100 TB cliff), while the
  * bucketed plan's hot task is bounded by one user-DAY (n/365) and its
  * wall stays ~flat until the join/shuffle floor dominates.
  *
  * Round 12 probes the whole sequence-dependent family, not just
  * sessionize: win_streaks / streaks_bucketed and event_transitions /
  * event_transitions_bucketed share the identical per-user-window
  * regime, and funnel_conversion rides along WITHOUT a twin as the
  * control — its per-user work is a commutative min() through partial
  * aggregation (no serial sort), so it should read flat and prove the
  * probe distinguishes the two shapes rather than labeling everything
  * a cliff.
  *
  * Usage: graft.HotEntityProbe <outBase> [n1,n2,...] [alt]
  * (default n = 1e5,1e6,4e6). Emits one JSON line per n with per-key
  * seconds.
  *
  * `alt` mode (round 14, verdict item 6) is win_streaks' honest-bound
  * probe: the default shape's event_type is a function of the TIMESTAMP
  * (6-hour blocks), so runs stay ~1460/user-year no matter how large n
  * grows — the regime where the round-13 reading declared win_streaks
  * flat. The alt whale inverts that: ONE user, timestamps strictly
  * monotone in event_id, event_type alternating EVERY event — runs ≈
  * events, the worst case for any run-level decomposition (the bucketed
  * twin's second serial pass is then ~n rows too, so no decomposition
  * can win; the question alt mode answers is where the PLAIN plan's
  * one-task lag+cumsum+n-group aggregation actually cliffs, and whether
  * a runs-per-entity auto-switch would ever have a regime to win in).
  */
object HotEntityProbe {

  /** (plain key, bucketed twin — None for the flat-by-construction
    * control). Twins must emit row-identical results (require'd below).
    */
  private val pairs: Seq[(String, Option[String])] = Seq(
    ("sessionize", Some("sessionize_bucketed")),
    ("win_streaks", Some("streaks_bucketed")),
    ("event_transitions", Some("event_transitions_bucketed")),
    ("funnel_conversion", None))

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.HotEntityProbe <outBase> [n1,n2,...] [alt]")
    val outBase = args(0)
    val ns = if (args.length > 1) args(1).split(",").map(_.toLong).toSeq
             else Seq(100000L, 1000000L, 4000000L)
    val alt = args.length > 2 && args(2) == "alt"
    val measuredPairs =
      if (alt) Seq(("win_streaks", Some("streaks_bucketed")))
      else pairs
    val spark = GraftSession("graft-hot-entity-probe")

    ns.foreach { n =>
      val dir = s"$outBase/hot_$n"
      // hot user 0: n events over 365 days (uniform; every day occupied →
      // sessions merge across every midnight, the worst stitch case).
      // background: n/10 events over 1000 users, same span. event_type is
      // a function of the TIMESTAMP (6-hour blocks cycling
      // view/click/purchase), so in event-TIME order the stream has LONG
      // same-type runs (~1460 runs/user-year regardless of n) — the
      // regime win_streaks exists for, and the one where the run-level
      // stitch stays calendar-bounded; funnel sees all three stage types.
      val yearUs = 365L * 24 * 3600 * 1000000L
      val blockUs = 6L * 3600 * 1000000L
      def typed(tsUs: org.apache.spark.sql.Column) =
        element_at(array(lit("view"), lit("click"), lit("purchase")),
          (pmod(tsUs.cast("long") / lit(blockUs), lit(3)) + 1).cast("int"))
      // alt mode: timestamps strictly monotone in event_id (uniform step
      // over the same year span) so the per-event alternation below is an
      // alternation in EVENT-TIME order — runs ≈ events by construction
      val hotUs =
        if (alt) lit(1700000000000000L) + col("id") * lit(math.max(1L, yearUs / n))
        else lit(1700000000000000L) + pmod(col("id") * 2654435761L, lit(yearUs))
      val hot = spark.range(n).select(
        col("id").as("event_id"),
        hotUs.as("us"),
        lit(0L).as("user_id"),
        (col("id") % 100).cast("double").as("value"),
        lit("{}").as("props"))
      val bg = spark.range(n / 10).select(
        (col("id") + lit(2000000000L)).as("event_id"),
        (lit(1700000000000000L) + pmod(col("id") * 968665207L, lit(yearUs))).as("us"),
        (col("id") % 1000 + 1).as("user_id"),
        (col("id") % 100).cast("double").as("value"),
        lit("{}").as("props"))
      val eventType =
        if (alt) element_at(array(lit("view"), lit("click")),
          (pmod(col("event_id"), lit(2)) + 1).cast("int"))
        else typed(col("us"))
      hot.unionByName(bg)
        .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
          col("user_id"), eventType.as("event_type"),
          col("value"), col("props"))
        .repartition(16)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")

      def time(key: String): (Double, Long) = {
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(key)(spark, dir).count()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      val cells = measuredPairs.flatMap { case (plain, twin) =>
        // bucketed first, so any one-time scan warmth favors the PLAIN
        // plan (the conservative direction for the claim under test)
        val b = twin.map(time)
        val (tp, rp) = time(plain)
        b.foreach { case (_, rb) =>
          require(rb == rp, s"$plain twin disagrees at n=$n: $rb vs $rp") }
        Seq(f""""${plain}_s":$tp%.2f""") ++
          b.map { case (tb, _) => f""""${twin.get}_s":$tb%.2f""" }
      }
      val modeTag = if (alt) "\"mode\":\"alt\"," else ""
      println(s"""{$modeTag"n_hot":$n,${cells.mkString(",")}}""")
    }
    spark.stop()
  }
}
