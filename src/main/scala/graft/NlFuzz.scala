package graft

/** NL composition-matrix fuzzer (round-10 verdict item 8).
  *
  * Rounds 8–10 each discovered BY HAND an NL composition whose halves
  * existed but whose combination was unproducible (where+range, topk+range,
  * group-join+range, per-group-topk+range). This main makes that discovery
  * mechanical: it CROSSES every grammar production with every modifier the
  * catalog makes syntactically sensible — aggregate × measure × group dim ×
  * equality filter × calendar range/year/last-days × top-k/per-group ×
  * distinct — and asserts the full matrix behaves:
  *
  *  - a CLAIMED combination must translate and its SQL must run on Spark
  *    (result parqueted for the DuckDB parity leg, scripts/nlfuzz.py);
  *  - an UNCLAIMED combination must fail LOUDLY (IllegalArgumentException
  *    from the grammar/catalog) — if it silently translates, the claim
  *    table is stale and the run flags it, so a new production can never
  *    ship without being pulled into the parity matrix.
  *
  * The claim table lives HERE, next to the generator, as the single
  * machine-checked statement of what the NL surface supports. The DuckDB
  * half of the gate (scripts/nlfuzz.py) replays every claimed SQL string —
  * the translated SQL is its own oracle, the same discipline as the nl_*
  * correctness keys — and writes NLFUZZ.json.
  *
  * Usage: graft.NlFuzz <sfDir> <outDir>
  */
object NlFuzz {

  /** One generated question: claimed=true ⇒ must translate + gate-pass;
    * claimed=false ⇒ must throw loudly.
    */
  final case class Q(name: String, question: String, claimed: Boolean)

  /** measure → (group dims, (filter dim, v1, v2), date range, year,
    * lastDays). Dims listed are on (or star-reachable from) the measure's
    * fact; values exist in every fixture SF (FIXTURES.md domains).
    */
  private case class M(measure: String, dims: Seq[String],
                       filterDim: String, v1: String, v2: String,
                       range: Option[(String, String)],
                       year: Option[String], lastDays: Option[Int])

  private val ms = Seq(
    M("order price", Seq("status", "priority", "market segment", "nation"),
      "priority", "1-URGENT", "5-LOW",
      Some(("1995-01-01", "1996-06-30")), Some("1996"), Some(30)),
    // round 15 (verdict item 3): the EDGE-QUALIFIED nation dims join the
    // matrix — every aggregate/filter/time production must hold on each
    // edge (the bare "by nation" stays in the explicit rejection rows)
    M("quantity", Seq("return flag", "supplier nation", "customer nation"),
      "return flag", "R", "A",
      Some(("1996-01-01", "1997-06-30")), Some("1996"), Some(30)),
    // round 13: second lineitem measure (added for the ratio production)
    // — every existing aggregate/filter/time production must hold on it
    M("extended price", Seq("return flag"),
      "return flag", "R", "A",
      Some(("1996-01-01", "1997-06-30")), Some("1996"), Some(30)),
    // round 16: DERIVED measure (revenue = extendedprice × (1−discount),
    // the TPC-H discounted-revenue expression) — the measure slot carries
    // a full SQL expression, so every production in this block must hold
    // with an expression where it previously interpolated a column
    M("revenue", Seq("return flag"),
      "return flag", "R", "A",
      Some(("1996-01-01", "1997-06-30")), Some("1996"), Some(30)),
    M("event value", Seq("event type"),
      "event type", "click", "view",
      Some(("2024-01-05", "2024-01-20")), Some("2024"), Some(7)),
    // customer has no event-time column: every time-boxed composition
    // over account balance is UNCLAIMED and must fail loudly
    M("account balance", Seq("market segment"),
      "market segment", "BUILDING", "AUTOMOBILE", None, None, None))

  /** (entity, its measure, the fact dims per-group top-k can rank within). */
  private val leaderboards = Seq(
    ("customers", "order price", Seq("status", "priority")),
    ("suppliers", "quantity", Seq("return flag")),
    ("parts", "quantity", Seq("return flag")))

  /** (count noun = the fact's own rows, its group dims, filter (d, v)). */
  private val countable = Seq(
    ("orders", Seq("status", "priority"), ("priority", "1-URGENT")),
    ("events", Seq("event type"), ("event type", "click")),
    ("customers", Seq("market segment"), ("market segment", "BUILDING")))

  /** (distinct entity, dims of its FK fact, filter (dim, value)). */
  private val distinctable = Seq(
    ("customers", Seq("status", "priority"), "priority", "1-URGENT"),
    ("suppliers", Seq("return flag"), "return flag", "R"),
    ("parts", Seq("return flag"), "return flag", "R"))

  def matrix: Seq[Q] = {
    val out = Seq.newBuilder[Q]
    var i = 0
    def add(question: String, claimed: Boolean): Unit = {
      out += Q(f"q$i%03d", question, claimed); i += 1
    }
    // ---- grouped-aggregate family: agg × dim × filter × time ----
    for (m <- ms; d <- m.dims) {
      val fd = m.filterDim
      add(s"total ${m.measure} by $d", claimed = true)
      add(s"average ${m.measure} by $d", claimed = true)
      add(s"minimum ${m.measure} by $d", claimed = true)
      add(s"maximum ${m.measure} by $d", claimed = true)
      add(s"total ${m.measure} by $d where $fd is ${m.v1}", claimed = true)
      add(s"average ${m.measure} by $d where $fd is ${m.v1}", claimed = true)
      add(s"total ${m.measure} by $d where $fd is ${m.v1} or ${m.v2}", claimed = true)
      add(s"total ${m.measure} by $d where $fd is not ${m.v1}", claimed = true)
      add(s"total ${m.measure} by $d having total above 1000", claimed = true)
      m.range.foreach { case (a, b) =>
        add(s"total ${m.measure} by $d between $a and $b", claimed = true)
        add(s"total ${m.measure} by $d where $fd is ${m.v1} between $a and $b",
          claimed = true)
        // round 11: the fuzzer's first run listed these as unclaimed;
        // the productions now exist, so they are parity-gated
        add(s"average ${m.measure} by $d between $a and $b", claimed = true)
        add(s"minimum ${m.measure} by $d between $a and $b", claimed = true)
        add(s"maximum ${m.measure} by $d between $a and $b", claimed = true)
        // still unclaimed: filter × year (no production — generated so it
        // lands in the matrix the day one ships)
      }
      m.year.foreach { y =>
        add(s"total ${m.measure} by $d in $y", claimed = true)
        // round 14 (verdict item 2): filter × year is now producible —
        // all 7 previously-rejected matrix rows flip to parity-gated
        add(s"total ${m.measure} by $d where $fd is ${m.v1} in $y", claimed = true)
      }
      m.lastDays.foreach { n =>
        add(s"total ${m.measure} by $d in the last $n days", claimed = true)
      }
      if (m.range.isEmpty) {
        // no event-time column ⇒ every time-box must fail loudly
        add(s"total ${m.measure} by $d between 1995-01-01 and 1996-06-30",
          claimed = false)
        add(s"total ${m.measure} by $d in 1996", claimed = false)
        add(s"total ${m.measure} by $d in the last 30 days", claimed = false)
      }
    }
    // two-dimension group-bys (same-fact dim pairs; the qualified nation
    // dims are handled explicitly below — their pairwise combination is
    // the two-edges-to-one-table rejection)
    for (m <- ms; Seq(d1, d2) <- m.dims.filter(d =>
        (d != "nation" && d != "market segment" && !d.endsWith(" nation"))
          || m.measure == "account balance")
        .combinations(2).toSeq) {
      add(s"total ${m.measure} by $d1 and $d2", claimed = true)
    }
    // one qualified nation dim + one fact dim routes (one declared path)
    add("total quantity by return flag and supplier nation", claimed = true)
    add("total quantity by return flag and customer nation", claimed = true)
    // BOTH edges at once (round 16, verdict item 2): the aliased merge
    // joins nation twice under distinct aliases (n_sup/n_cust — the
    // q_volume_shipping shape), so the twin-qualified pair now routes
    add("total quantity by supplier nation and customer nation", claimed = true)
    // cross-table dim pair: TotalByTwoDims routes one off-fact dim
    // through the star schema by design
    add("total order price by status and market segment", claimed = true)
    // month trend + by-year (no dim slot: fact from the measure)
    for (m <- ms; y <- m.year) {
      add(s"total ${m.measure} by month in $y", claimed = true)
      add(s"total ${m.measure} by year", claimed = true)
    }
    // ---- row counts / distinct entity counts ----
    for ((noun, dims, (fd, fv)) <- countable; d <- dims) {
      add(s"number of $noun by $d", claimed = true)
      add(s"number of $noun by $d where $fd is $fv", claimed = true)
      // claimed where the counted table has an event-time column
      add(s"number of $noun by $d between 1995-01-01 and 1996-06-30",
        claimed = noun != "customers")
    }
    add("number of orders by status and priority", claimed = true)
    add("number of parts by market segment", claimed = false) // row/entity mismatch guard
    for ((ent, dims, fd, fv) <- distinctable; d <- dims) {
      add(s"number of unique $ent by $d", claimed = true)
      add(s"number of unique $ent by $d where $fd is $fv", claimed = true)
    }
    // filter dim one declared many-to-one star hop off the fk fact —
    // routable since round 14 (status is orders'; lineitem → orders is
    // many-to-one so the distinct basis is untouched)
    add("number of unique suppliers by return flag where status is F",
      claimed = true)
    // round 16: a filter dim across the declared ONE-TO-MANY edge lowers
    // to EXISTS — well-defined for (and ONLY for) distinct counts: the
    // fact row qualifies iff any child row matches, and EXISTS/semi-join
    // never duplicates the counted basis. Sum/avg/count(*) productions
    // keep rejecting the same route (fanoutExists is consulted only by
    // the distinct-count production).
    add("number of unique customers by status where return flag is R",
      claimed = true)
    // round 14: aggregate FILTER dims routed through declared many-to-one
    // star hops (factFrom2) — the join cannot change the fact-row basis
    add("total order price by status where market segment is BUILDING",
      claimed = true)
    add("average order price by priority where market segment is BUILDING",
      claimed = true)
    add("number of orders by status where market segment is BUILDING",
      claimed = true)
    // group AND filter dims both off-fact, carried by ONE declared path
    // (the nation path passes through customer)
    add("total order price by nation where market segment is BUILDING",
      claimed = true)
    // round 15 (verdict item 3): bare "nation" off lineitem is genuinely
    // ambiguous (supplier edge vs orders→customer edge) — both forms keep
    // rejecting, with the rejection text naming the qualifiers
    add("total quantity by nation", claimed = false)
    add("total quantity by nation where status is F", claimed = false)
    // the qualified forms route the named edge, and the supplier-edge +
    // orders-filter composition rides the mechanical path merge
    add("total quantity by customer nation where status is F", claimed = true)
    add("total quantity by supplier nation where status is F", claimed = true)
    add("total order price by status where customer nation is GERMANY",
      claimed = true)
    add("number of unique parts by return flag where supplier nation is GERMANY",
      claimed = true)
    // round 16: two qualified edges meeting the same physical nation
    // table now route through the ALIASED twin merge (n_sup/n_cust, the
    // TotalByTwoDims twin shape) with the filter column qualified by its
    // edge's alias — never unaliased nation-joined-twice SQL
    add("total quantity by supplier nation where customer nation is GERMANY",
      claimed = true)
    add("total quantity by customer nation where supplier nation is GERMANY",
      claimed = true)
    // non-empty parity rows for the same twin shape (the fixture nation
    // domain is NATION_0..24 — GERMANY parity-passes on empty groups)
    add("total quantity by supplier nation where customer nation is NATION_7",
      claimed = true)
    add("total quantity by customer nation where supplier nation is NATION_7",
      claimed = true)
    // the shared twinAliased merge serves AvgByWhere too (review round 16:
    // "total" and "average" must carry the same twin surface)
    add("average quantity by supplier nation where customer nation is NATION_7",
      claimed = true)
    // ---- leaderboards: topk × filter × per-group × range ----
    for ((ent, m, dims) <- leaderboards) {
      val mm = ms.find(_.measure == m).get
      val (a, b) = mm.range.get
      add(s"top 3 $ent by total $m", claimed = true)
      add(s"bottom 3 $ent by total $m", claimed = true)
      add(s"top 3 $ent by total $m where ${mm.filterDim} is ${mm.v1}", claimed = true)
      add(s"top 3 $ent by total $m between $a and $b", claimed = true)
      for (d <- dims) {
        add(s"top 2 $ent by total $m per $d", claimed = true)
        add(s"top 2 $ent by total $m per $d between $a and $b", claimed = true)
        add(s"top 2 $ent by total $m per $d where ${mm.filterDim} is ${mm.v1}",
          claimed = true)
      }
      add(s"top 3 $ent by total $m where ${mm.filterDim} is ${mm.v1} between $a and $b",
        claimed = true)
      add(s"bottom 3 $ent by total $m between $a and $b", claimed = true)
      val singular = ent.stripSuffix("s")
      add(s"which $singular had the highest total $m", claimed = true)
      add(s"which $singular had the lowest total $m in ${mm.year.get}", claimed = true)
    }
    // shares
    add("share of orders by status", claimed = true)
    add("share of events by event type", claimed = true)
    // ---- round 13: compositional negation + ratio (verdict item 6) ----
    add("share of orders where status is not F", claimed = true)
    add("share of orders where priority is not 1-URGENT", claimed = true)
    add("share of events where event type is not click", claimed = true)
    add("share of orders where status is not F by priority", claimed = true)
    add("share of orders where priority is not 1-URGENT by status", claimed = true)
    add("share of events where event type is not click by event type", claimed = true)
    // round 14 (verdict item 3): share/ratio dims one declared many-to-one
    // star hop off the entity table now route (pk=fk hops preserve the
    // row basis, so shares are unchanged by the join)
    add("share of orders where market segment is not BUILDING", claimed = true)
    add("share of orders where market segment is not BUILDING by status",
      claimed = true)
    add("share of orders by market segment", claimed = true)
    // round 17 (verdict item 3): negation ACROSS the one-to-many hop
    // (orders→lineitem) is now producible as universal quantification —
    // "an order is not R when none of its lineitems is" — via correlated
    // NOT EXISTS inside the aggregate FILTER (the row basis stays the
    // fact table; the fan-out edge is never joined in). Flipped from the
    // round-16 rejection; the scalar form rides the same lowering.
    add("share of orders where return flag is not R by status", claimed = true)
    add("share of orders where return flag is not R", claimed = true)
    add("ratio of extended price to quantity by return flag", claimed = true)
    add("ratio of quantity to extended price by return flag", claimed = true)
    // round 16: a cross-fact ratio acquires a defined basis by
    // aggregating EACH side to |dims| rows first, then joining the two
    // aggregate tables NULL-safely — claimed when both facts reach the
    // dim over declared many-to-one paths…
    add("ratio of order price to quantity by status", claimed = true)
    // …and still rejected when one side cannot (events has no path to
    // lineitem's return flag)
    add("ratio of event value to quantity by return flag", claimed = false)
    // round 14: the customer→lineitem two-hop path routes the group dim
    add("ratio of extended price to quantity by market segment", claimed = true)
    // round 16: the derived revenue measure through ratio and topk
    add("ratio of revenue to quantity by return flag", claimed = true)
    add("ratio of revenue to extended price by return flag", claimed = true)
    add("top 3 suppliers by total revenue", claimed = true)
    // unknown measures reject (profit would need a supply-cost column the
    // fixture does not carry)
    add("ratio of profit to quantity by return flag", claimed = false)
    // generic row count over ANY resolvable table (round 13 — the NL leg
    // of the dataset-registration surface)
    add("how many rows are in lineitem", claimed = true)
    add("how many rows are in documents", claimed = true)
    add("how many rows are in events?", claimed = true)
    add("how many rows are in warehouse_42", claimed = false)
    // round 15 (verdict item 6): COLUMN-level productions over a
    // REGISTERED dataset (main registers reg_nations → nation.parquet
    // with a schema-cache-filling probe before this matrix runs; the
    // checker mirrors the view in DuckDB). Both ways as always.
    add("how many rows in reg_nations where n_regionkey is 1", claimed = true)
    add("how many rows in reg_nations where n_name is GERMANY", claimed = true)
    add("top 3 rows of reg_nations by n_nationkey", claimed = true)
    // unknown column → loud rejection naming the real columns
    add("number of rows in reg_nations by n_regionkey", claimed = true)
    add("count of rows in reg_nations by n_name", claimed = true)
    add("number of rows in reg_nations by bogus_col", claimed = false)
    add("how many rows in reg_nations where bogus_col is 3", claimed = false)
    // type mismatch: a non-numeric literal on a numeric column
    add("how many rows in reg_nations where n_regionkey is GERMANY",
      claimed = false)
    // round 16 (verdict item 3): AGGREGATES over the registered dataset —
    // money-disciplined sum / exact-half-up average, measure type-checked
    // against the cached schema (numeric only)
    add("total n_nationkey in reg_nations by n_regionkey", claimed = true)
    add("total n_nationkey in reg_nations", claimed = true)
    add("average n_nationkey in reg_nations by n_regionkey", claimed = true)
    // non-numeric measure → loud rejection naming the real type
    add("total n_name in reg_nations by n_regionkey", claimed = false)
    add("average n_name in reg_nations by n_regionkey", claimed = false)
    // unknown group column → loud rejection naming the real columns
    add("total n_nationkey in reg_nations by bogus_col", claimed = false)
    // round 16: the equality-FILTERED total — string filter quoted,
    // numeric filter bare; non-numeric measure and type-mismatched
    // filter literal both reject loudly
    add("total n_nationkey in reg_nations where n_regionkey is 1", claimed = true)
    add("total n_nationkey in reg_nations where n_name is GERMANY", claimed = true)
    add("total n_name in reg_nations where n_regionkey is 1", claimed = false)
    add("total n_nationkey in reg_nations where n_regionkey is GERMANY",
      claimed = false)
    add("total n_nationkey in reg_nations where bogus_col is 1", claimed = false)
    // round 16: FIXTURE tables now resolve in the column-level grammar
    // too (TableRegistry.fixtureSchemas — the declared FIXTURES.md
    // contract, so translate stays referentially transparent): raw-column
    // questions are first-class alongside the catalog-noun vocabulary
    add("how many rows in nation where n_name is GERMANY", claimed = true)
    add("top 3 rows of orders by o_totalprice", claimed = true)
    add("total o_totalprice in orders by o_orderstatus", claimed = true)
    add("average o_totalprice in orders by o_orderstatus", claimed = true)
    add("number of rows in lineitem by l_returnflag", claimed = true)
    add("maximum o_totalprice in orders by o_orderstatus", claimed = true)
    add("minimum l_quantity in lineitem by l_returnflag", claimed = true)
    add("minimum n_name in nation by n_regionkey", claimed = false)
    add("maximum n_nationkey in reg_nations by n_regionkey", claimed = true)
    add("number of distinct l_suppkey in lineitem by l_returnflag", claimed = true)
    add("count of unique n_regionkey in reg_nations", claimed = true)
    add("number of distinct bogus_col in lineitem by l_returnflag", claimed = false)
    add("total o_totalprice in orders where o_orderstatus is F", claimed = true)
    // …with the same loud-rejection discipline as registered datasets:
    // unknown column (naming the real list), type-mismatched literal,
    // non-numeric measure
    add("how many rows in orders where o_bogus is 3", claimed = false)
    add("how many rows in nation where n_regionkey is GERMANY", claimed = false)
    add("total n_name in nation by n_regionkey", claimed = false)
    out.result()
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.NlFuzz <sfDir> <outDir>")
    val (sfDir, outDir) = (args(0), args(1))
    val spark = GraftSession("graft-nl-fuzz")
    new java.io.File(outDir).mkdirs()

    // round 15: the registered-dataset rows need a live registration with
    // a cached schema (the same register-time probe the serving surface
    // runs); the checker mirrors reg_nations as a DuckDB view
    graft.sources.DatasetRegistry.register(graft.sources.CatalogStore.Entry(
      "reg_nations", s"$sfDir/nation.parquet", "parquet"), Some(spark))

    val qs = matrix
    var bad = 0
    val manifest = qs.map { q =>
      val entry: String = if (q.claimed) {
        try {
          val sql = dialects.NlToSql.translate(q.question)
          dialects.NlToSql.run(spark, sfDir, q.question)
            .write.mode("overwrite").parquet(s"$outDir/${q.name}.parquet")
          val sqlJson = sql.replace("\\", "\\\\").replace("\"", "\\\"")
            .replace("\n", "\\n")
          s""""${q.name}":{"status":"translated","question":"${q.question}","sql":"$sqlJson"}"""
        } catch {
          case e: Exception =>
            bad += 1
            System.err.println(s"[nlfuzz] UNPRODUCIBLE claimed composition: " +
              s"'${q.question}' -> ${e.getMessage}")
            s""""${q.name}":{"status":"unproducible","question":"${q.question}"}"""
        }
      } else {
        try {
          dialects.NlToSql.translate(q.question)
          bad += 1
          System.err.println(s"[nlfuzz] STALE CLAIM TABLE: unclaimed " +
            s"'${q.question}' translated — add it to the parity matrix")
          s""""${q.name}":{"status":"unclaimed_translated","question":"${q.question}"}"""
        } catch {
          case e: Exception =>
            require(e.getMessage != null && e.getMessage.nonEmpty,
              s"empty rejection message for '${q.question}'")
            s""""${q.name}":{"status":"rejected","question":"${q.question}"}"""
        }
      }
      entry
    }
    val json = manifest.mkString(
      s"""{"n":${qs.size},"bad":$bad,"questions":{""", ",", "}}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "fuzz_manifest.json"), json)
    System.err.println(s"[nlfuzz] ${qs.size} questions, " +
      s"${qs.count(_.claimed)} claimed, bad=$bad")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
