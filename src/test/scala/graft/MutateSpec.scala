package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.MutantQueries.{Mutant, Planted}
import graft.plans.Mutate

/** `graft.plans.Mutate`, MUTCHECK's plan-level defect planter, and the way
  * `MutantVerify` runs a planted entry: each operator's edit shows in the
  * answer, the rule plants once through its FixedPoint batch, a planted
  * key keeps its schema, a site past the last writes nothing, a hand
  * entry's `desc` reaches the manifest, and the key's construction (here,
  * a `Derived` build) runs unmutated.
  */
class MutateSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  val d = TestSpark.sfDir

  /** `build`'s rows on a request session, with and without `Mutate(op, site)`. */
  private def plant(op: String, site: Int)(build: SparkSession => DataFrame): (Seq[Row], Seq[Row], Mutate) = {
    val clean = build(GraftSession.request(spark)).collect().toSeq
    val sess = GraftSession.request(spark)
    val df = build(sess)
    val rule = Mutate(op, site)
    sess.experimental.extraOptimizations = Seq(rule)
    val rows = df.collect().toSeq
    // one tagged node: the FixedPoint batch re-ran the rule, which left
    // the planted plan alone
    assert(df.queryExecution.optimizedPlan.collect {
      case n if n.getTagValue(Mutate.Tag).isDefined => n }.size === 1, op)
    assert(rule.planted.size === 1, op)
    (clean, rows, rule)
  }

  private def longs(rows: Seq[Row]): Seq[Any] = rows.map(r => if (r.isNullAt(0)) null else r.getLong(0))

  test("cmp flips one comparison's boundary") {
    val (clean, rows, rule) = plant("cmp", 0)(_.range(10).toDF("id").filter("id <= 4"))
    assert(clean.size === 5 && rows.size === 4)
    assert(rule.planted === Seq("Filter: (id <= 4L) -> (id < 4L)"))
  }

  test("frame moves one frame bound inward, CURRENT ROW counting as 0") {
    val (clean, rows, _) = plant("frame", 0)(_.range(5).selectExpr(
      "count(1) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n"))
    assert(longs(clean) === Seq(1L, 2L, 3L, 4L, 5L))
    assert(longs(rows) === Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("tiebreak reverses the last of two sort keys") {
    val (clean, rows, _) = plant("tiebreak", 0)(
      _.range(6).selectExpr("id % 2 AS g", "id").orderBy("g", "id"))
    assert(clean.map(_.getLong(1)) === Seq(0L, 2L, 4L, 1L, 3L, 5L))
    assert(rows.map(_.getLong(1)) === Seq(4L, 2L, 0L, 5L, 3L, 1L))
  }

  test("nulls moves NULLs to the other end of one sort key") {
    val (clean, rows, _) = plant("nulls", 0)(_.range(3)
      .selectExpr("CASE WHEN id = 0 THEN NULL ELSE id END AS v").orderBy("v"))
    assert(longs(clean) === Seq(null, 1L, 2L))
    assert(longs(rows) === Seq(1L, 2L, null))
  }

  test("dedup drops a distinct") {
    val (clean, rows, _) = plant("dedup", 0)(_.range(10).selectExpr("id % 3 AS m").distinct())
    assert(clean.size === 3 && rows.size === 10)
  }

  test("conjunct drops one conjunct of a filter") {
    val (clean, rows, _) = plant("conjunct", 0)(_.range(10).toDF("id").filter("id > 2 AND id < 7"))
    assert(longs(clean) === Seq(3L, 4L, 5L, 6L))
    assert(longs(rows) === (0L to 6L))
  }

  test("const moves one numeric literal up one unit in its last digit, keeping its type") {
    val (clean, rows, rule) = plant("const", 0)(_.range(10).toDF("id").filter("id <= 4"))
    assert(clean.size === 5 && rows.size === 6)
    assert(rule.planted === Seq("Filter: (id <= 4L) -> (id <= 5L)"))

    val (c2, r2, rule2) = plant("const", 0)(_.range(1).selectExpr("id + 0.35D AS x"))
    assert(c2.map(_.getDouble(0)) === Seq(0.35) && r2.map(_.getDouble(0)) === Seq(0.36))
    assert(rule2.planted === Seq("Project: (CAST(id AS DOUBLE) + 0.35D) -> (CAST(id AS DOUBLE) + 0.36D)"))
  }

  test("const leaves strings, dates, LIMIT literals, frame bounds and a value with no room alone") {
    val base = spark.range(5).selectExpr("id", "'a' AS s", "DATE'2024-01-01' AS dt", "2147483647 AS m",
      "max(id) OVER (ORDER BY id ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS w")
    assert(Mutate.sites("const", base.limit(3).queryExecution.optimizedPlan) === Nil)
    assert(Mutate.sites("const", base.selectExpr("id + 1 AS one").limit(3).queryExecution.optimizedPlan) ===
      Seq("Project: (id + 1L) -> (id + 2L)"))
  }

  test("join: semi made inner keeps the left schema and repeats multi-match rows; anti made semi is the complement") {
    def joined(kind: String)(s: SparkSession) =
      s.range(3).join(s.range(6).selectExpr("id % 2 AS k"), col("id") === col("k"), kind)
    val (clean, rows, rule) = plant("join", 0)(joined("left_semi"))
    assert(clean.map(_.getLong(0)).sorted === Seq(0L, 1L))
    assert(rows.map(_.getLong(0)).sorted === Seq(0L, 0L, 0L, 1L, 1L, 1L))
    assert(rule.planted === Seq("Join: LEFT SEMI -> INNER, projected to the left output"))
    val sess = GraftSession.request(spark)
    val df = joined("left_semi")(sess)
    sess.experimental.extraOptimizations = Seq(Mutate("join", 0))
    assert(df.queryExecution.optimizedPlan.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))

    val (anti, flipped, _) = plant("join", 0)(joined("left_anti"))
    assert(anti.map(_.getLong(0)) === Seq(2L))
    assert(flipped.map(_.getLong(0)).sorted === Seq(0L, 1L))
  }

  test("MutantVerify: a planted limit on topk writes 11 rows in topk's schema; a site past the last writes nothing") {
    val out = Files.createTempDirectory("graft_mutate").toString
    val topk = SparkEntry.queries("topk")(spark, d)
    val over = Mutate.sites("limit", topk.queryExecution.optimizedPlan).size
    val edits = MutantVerify.run(spark, _ => d, out, Seq(
      Planted("topk", "limit-off-by-one", "clean", "limit", 0),
      Planted("distinct", "dropped-distinct", "clean", "dedup", 0),
      Planted("topk", "past-the-last-site", "clean", "limit", over),
      Mutant("topk", "short-by-one", "topk cut to 9 rows", "clean",
        (s, dd) => SparkEntry.queries("topk")(s, dd).limit(9))))
    assert(edits("topk__limit-off-by-one") === Seq("GlobalLimit: LIMIT 10 -> LIMIT 11"))
    val written = spark.read.parquet(s"$out/clean/topk__limit-off-by-one")
    assert(written.count() === 11)
    def shape(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    assert(shape(written) === shape(topk))
    assert(shape(spark.read.parquet(s"$out/clean/distinct__dropped-distinct")) ===
      shape(SparkEntry.queries("distinct")(spark, d)))

    assert(edits("topk__past-the-last-site").isEmpty)
    assert(!Files.exists(Paths.get(out, "clean", "topk__past-the-last-site")))
    val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(out, "mutants.json")))
    assert(manifest.size === 4)
    assert(manifest.get(0).get("planted").get(0).asText === "GlobalLimit: LIMIT 10 -> LIMIT 11")
    assert(manifest.get(2).get("planted").size === 0)
    assert(manifest.get(3).get("desc").asText === "topk cut to 9 rows")
    assert(spark.read.parquet(s"$out/clean/topk__short-by-one").count() === 9)
  }

  test("a planted mutant's construction runs unmutated: its Derived artifact stays clean") {
    // graph_pagerank reads the trade_edges artifact, whose build has a
    // join the same site would drop: had the rule been on the session
    // while the key was built, the cached artifact would be wrong
    val copy = TestSpark.fixtureCopy("graft_mutate_construction")
    val out = Files.createTempDirectory("graft_mutate_c").toString
    val edits = MutantVerify.run(spark, _ => copy, out,
      Seq(Planted("graph_pagerank", "dropped-join-key", "clean", "conjunct", 0)))
    assert(edits("graph_pagerank__dropped-join-key").nonEmpty)
    def answer(dir: String) =
      SparkEntry.queries("graph_pagerank")(spark, dir).collect().map(_.toString).sorted.toSeq
    assert(answer(copy) === answer(d))
  }
}
