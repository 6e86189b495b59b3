package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Hostile fixture-variant generator for the adversarial differential
  * harness (`scripts/edgecheck.py`).
  *
  * The driver's DuckDB gate runs on CLEAN fixtures, so a whole defect class
  * — NULL-ordering divergence, NULL arithmetic, empty-input crashes,
  * duplicate-key fan-out — can never fail it (round-7 review sweeps found
  * exactly such bugs by hand: Spark NULLS-FIRST vs DuckDB NULLS-LAST in
  * windows, NULL grid cells in drift_ks). This main derives hostile
  * variants of the driver fixtures and writes them in the same layout
  * (`<outBase>/<variant>/<table>.parquet`), so the *existing*
  * Verify + check.py differential compare runs unchanged against each.
  *
  * Variants (all fully deterministic — no Random, injection slots come from
  * xxhash64 of the table's spine key + column name):
  *  - `nulls`  : ~20% NULLs in every non-spine column; a further 8% slot
  *               turns strings into "" and arrays into empty arrays.
  *  - `empty`  : 0 rows, schema preserved.
  *  - `onerow` : exactly the first row in spine order.
  *  - `dupkeys`: first 50 spine-ordered rows, each repeated 8× as EXACT
  *               duplicates (identical rows ⇒ ties are value-identical, so
  *               the emitted-order compare can't produce false positives).
  *
  * Spine keys stay non-NULL so each table keeps a usable total order; every
  * other column is fair game — that is the point.
  */
object EdgeFixtures {

  /** table → spine (identity/total-order) columns kept non-NULL. */
  val spines: Map[String, Seq[String]] = Map(
    "region"     -> Seq("r_regionkey"),
    "nation"     -> Seq("n_nationkey"),
    "customer"   -> Seq("c_custkey"),
    "supplier"   -> Seq("s_suppkey"),
    "part"       -> Seq("p_partkey"),
    "orders"     -> Seq("o_orderkey"),
    "lineitem"   -> Seq("l_orderkey", "l_linenumber"),
    "events"     -> Seq("event_id"),
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Round 9 adds the two COMPOUND variants: real hostile data is NULL-
    * dense AND tie-dense AND duplicated at once, and two round-8 fixes
    * (NULL-struct min, session-gap boundary) sat exactly at such an
    * intersection — the orthogonal variants could each miss a defect the
    * combination exposes.
    *  - `nulls_ties`   : ties' value grids, then the nulls injection.
    *  - `dupkeys_nulls`: dupkeys' 50×8 exact duplicates, then nulls — the
    *                     null slots key on (spine, column), so duplicate
    *                     rows get IDENTICAL injections and stay exact
    *                     duplicates (the no-false-positive property).
    */
  val variants: Seq[String] =
    Seq("nulls", "empty", "onerow", "dupkeys", "ties", "nulls_ties",
      "dupkeys_nulls", "unicode")

  /** Load a table through the SAME canonical shims Verify uses, so the
    * variant parquet carries the post-shim types (µs timestamps for
    * events — a ns LongType written raw would be unreadable as a
    * timestamp by the DuckDB side of the compare).
    */
  private def load(s: SparkSession, dir: String, t: String): DataFrame = t match {
    case "events" => Tables.events(s, dir)
    case _        => Tables.load(s, dir, t)
  }

  /** Deterministic per-(row, column) slot in [0, 100). */
  private def slot(spine: Seq[String], colName: String): Column =
    pmod(xxhash64(spine.map(col) :+ lit(colName): _*), lit(100L))

  private[graft] def withNulls(df: DataFrame, spine: Seq[String]): DataFrame = {
    val cols = df.schema.fields.map { f =>
      if (spine.contains(f.name)) col(f.name)
      else {
        val h = slot(spine, f.name)
        val emptied: Column = f.dataType match {
          case StringType => when(h < 20, lit(null))
            .when(h < 28, lit(""))
            .when(h < 33, upper(col(f.name))) // case-fold bugs need mixed case
            .otherwise(col(f.name))
          case _: ArrayType => when(h < 20, lit(null))
            .when(h < 28, expr(s"cast(array() as ${f.dataType.catalogString})"))
            .otherwise(col(f.name))
          case _ => when(h < 20, lit(null)).otherwise(col(f.name))
        }
        emptied.cast(f.dataType).as(f.name)
      }
    }
    df.select(cols.toSeq: _*)
  }

  /** `unicode` (round-10 verdict item 4): multibyte injection into every
    * string column — the seven prior variants are pure ASCII, while the
    * text family does byte math (hex/md5 checksums, substring grams,
    * `\b` regexes, accent-fold translate), so a char-vs-byte or
    * normalization divergence between the engines could never fail the
    * harness. Injections CONCATENATE (never case-fold) four deterministic
    * multibyte classes, prefix and suffix slots: 2-byte Latin accents, a
    * COMBINING-accent cluster (é as e+U+0301 — NFC/NFD sensitivity), 3-byte
    * CJK, and astral-plane chars (4-byte UTF-8; surrogate PAIRS in JVM
    * UTF-16 — the class that breaks char-indexed code). `props` stays
    * VALID JSON with the marks inside a string value: Spark's
    * get_json_object returns NULL on malformed JSON where DuckDB's
    * json_extract throws, so malformed props would measure error-handling
    * divergence, not unicode handling.
    */
  private[graft] def withUnicode(df: DataFrame, spine: Seq[String]): DataFrame = {
    val accents = "Ünïcødé "                 // 2-byte UTF-8
    // e + U+0301 COMBINING ACUTE, explicitly DECOMPOSED via escape so an
    // editor/normalizer can never silently NFC it to precomposed \u00e9
    val combining = " cafe\u0301"
    val cjk = "数据"                          // 3-byte UTF-8
    // U+1D11E MUSICAL SYMBOL G CLEF + U+1F980 CRAB as surrogate-pair
    // escapes (4-byte UTF-8 on disk, the class that breaks char-indexed code)
    val astral = "\uD834\uDD1E\uD83E\uDD80"
    val cols = df.schema.fields.map { f =>
      if (spine.contains(f.name)) col(f.name)
      else f.dataType match {
        case StringType if f.name == "props" =>
          val h = slot(spine, f.name)
          when(h < 25, concat(lit("{\"ü\":\"" + astral + "\",\"k\":"),
              pmod(h, lit(9L)).cast(StringType), lit("}")))
            .otherwise(col(f.name)).as(f.name)
        case StringType =>
          val h = slot(spine, f.name)
          when(h < 10, concat(lit(accents), col(f.name)))
            .when(h < 20, concat(col(f.name), lit(combining)))
            .when(h < 30, concat(lit(cjk), col(f.name), lit(cjk)))
            .when(h < 40, concat(col(f.name), lit(astral)))
            .otherwise(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toSeq: _*)
  }

  private def onerow(df: DataFrame, spine: Seq[String]): DataFrame =
    df.orderBy(spine.map(col): _*).limit(1)

  private def dupkeys(df: DataFrame, spine: Seq[String]): DataFrame =
    df.orderBy(spine.map(col): _*).limit(50)
      .withColumn("__rep", explode(lit((1 to 8).toArray)))
      .drop("__rep")

  /** `ties`: coarsen timestamps to a 5-minute grid and money to coarse
    * round-number grids, so equal sort keys, frame-boundary collisions,
    * and exact predicate-boundary hits (the cases clean TPC-H-ish data
    * almost never produces) become COMMON. This is the fixture that makes
    * tie-break and boundary mutants killable (scripts/mutcheck.py) and
    * proves every key's emitted order is total even under heavy ties.
    */
  private[graft] def withTies(df: DataFrame, table: String): DataFrame = {
    val grid5m = 300000000L // 5 min in µs
    def coarse(f: StructField): Column = (f.dataType, f.name) match {
      case (TimestampType, n) if n.endsWith("date") =>
        // DAY grid for date-like axes: predicate boundaries are whole
        // dates ('1998-09-02'), so boundary-exact rows must exist
        date_trunc("day", col(n)).cast(TimestampType)
      case (TimestampType, _) =>
        timestamp_micros(expr(s"(unix_micros(${f.name}) div $grid5m) * $grid5m"))
      case (DoubleType, "value") => round(col(f.name), 0)
      case (DoubleType, n) if n.endsWith("price") || n.endsWith("acctbal") =>
        (round(col(f.name) / 100.0, 0) * 100.0).cast(DoubleType)
      case (DoubleType, n) if n == "l_discount" || n == "l_tax" =>
        round(col(f.name), 2)
      case _ => col(f.name)
    }
    df.select(df.schema.fields.map(f => coarse(f).as(f.name)).toSeq: _*)
  }

  def generate(s: SparkSession, srcDir: String, outBase: String): Unit = {
    for (t <- spines.keys.toSeq.sorted; v <- variants) {
      val base = load(s, srcDir, t)
      val sp = spines(t)
      val out = v match {
        case "nulls"   => withNulls(base, sp)
        case "empty"   => base.filter(lit(false))
        case "onerow"  => onerow(base, sp)
        case "dupkeys" => dupkeys(base, sp)
        // ties rows are written in HASH order, not spine order: a sort
        // that drops its tie-break often stays accidentally stable in
        // input order on one partition — shuffling the file exposes it
        case "ties"    => withTies(base, t)
          .orderBy(xxhash64(spines(t).map(col): _*))
        case "nulls_ties" => withNulls(withTies(base, t), sp)
          .orderBy(xxhash64(spines(t).map(col): _*))
        case "dupkeys_nulls" => withNulls(dupkeys(base, sp), sp)
        case "unicode" => withUnicode(base, sp)
      }
      // one *file* per table, exactly the driver-fixture layout (check.py's
      // DuckDB views read '<dir>/<t>.parquet' as a single file, not a glob):
      // write the Spark directory to a temp path, then move the lone part
      // file into place.
      val tmp = s"$outBase/$v/__tmp_$t"
      out.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $t/$v"))
      val dest = new java.io.File(s"$outBase/$v/$t.parquet")
      if (dest.exists()) { dest.delete(); () }
      require(part.renameTo(dest), s"rename failed for $t/$v")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(tmp))
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: graft.EdgeFixtures <srcSfDir> <outBase>")
    val spark = GraftSession("graft-edge-fixtures")
    generate(spark, args(0), args(1))
    println(s"[edgefixtures] wrote ${variants.mkString(", ")} under ${args(1)}")
    spark.stop()
  }
}
