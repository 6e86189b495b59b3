package graft

import graft.dialects.GraphQL

/** GraphQL composition-matrix fuzzer (round-12 verdict item 6 — the
  * GraphQL twin of [[NlFuzz]]).
  *
  * Rounds 9-11 each hand-discovered ONE latent GraphQL composition per
  * round (agg_orderby, agg_page/nested_distinct, …). This main makes the
  * discovery mechanical: it CROSSES every front-end production — raw
  * roots (each filter op × orderBy direction × offset/limit × nested
  * relations × aliases × fragments × variables × directives), the
  * aggregation root (own-column / dotted / multi-key groupBy × aggregate
  * fieldsets × filter × having × aggregate-field ordering × pagination),
  * nested `<rel>_agg` rollups, and introspection — and asserts the claim
  * table both ways:
  *
  *  - a CLAIMED combination must plan and its result must match the
  *    generated DuckDB SQL (scripts/gqlfuzz.py replays it — the SQL is
  *    generated from the SAME case spec as the GraphQL string, so the
  *    two strings are independent paths to the same answer: spec → GQL →
  *    parser → Catalyst vs spec → SQL → DuckDB);
  *  - an UNCLAIMED combination must fail LOUDLY — if it silently plans,
  *    the claim table is stale and the run flags it.
  *
  * First-run findings (the fuzzer earning its keep, like NlFuzz's 20):
  * root argument names were never validated — `orders(having: …)` and
  * `orders_agg(limt: 3)` silently dropped the argument and returned
  * unfiltered/unpaged rows labeled as the answer. GraphQL.checkArgs now
  * rejects unknown argument names at every root and on nested `_agg`
  * fields; the unclaimed rows here pin that contract.
  *
  * Usage: graft.GqlFuzz <sfDir> <outDir>
  */
object GqlFuzz {

  /** One generated case: claimed=true ⇒ must plan + parity-pass against
    * `sql`; claimed=false ⇒ must throw loudly (sql absent).
    */
  final case class Q(name: String, gql: String,
                     vars: Map[String, GraphQL.Value],
                     sql: Option[String], claimed: Boolean)

  // ---- shared SQL fragments (the committed gql_* oracle conventions) ----
  private val sumTP =
    "CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_o_totalprice"
  private val avgTP =
    Tables.avg4Duck("sum(CAST(o_totalprice AS DECIMAL(18,4)))", "count(1)") +
      " AS avg_o_totalprice"
  private val joinCust = "LEFT JOIN customer ON o_custkey = c_custkey"

  def matrix(sfDir: String): Seq[Q] = {
    val out = Seq.newBuilder[Q]
    var i = 0
    def add(tag: String, gql: String, sql: String = null,
            vars: Map[String, GraphQL.Value] = Map.empty): Unit = {
      out += Q(f"g$i%03d_$tag", gql, vars, Option(sql), claimed = sql != null)
      i += 1
    }

    // =====================================================================
    // A. raw roots: every filter op × the projection/order/page surface
    // =====================================================================
    val rawFilters = Seq(
      ("eq", """o_orderstatus: {eq: "O"}""", "o_orderstatus = 'O'"),
      ("ne", """o_orderstatus: {ne: "O"}""", "o_orderstatus <> 'O'"),
      ("gt", "o_totalprice: {gt: 150000}", "o_totalprice > 150000"),
      ("gte", "o_totalprice: {gte: 150000}", "o_totalprice >= 150000"),
      ("lt", "o_totalprice: {lt: 50000}", "o_totalprice < 50000"),
      ("lte", "o_totalprice: {lte: 50000}", "o_totalprice <= 50000"),
      ("like", """o_orderpriority: {like: "1-%"}""", "o_orderpriority LIKE '1-%'"),
      ("in", """o_orderstatus: {in: ["O", "F"]}""", "o_orderstatus IN ('O', 'F')"),
      // round-16 filter-op breadth: nin / between / is_null / ilike —
      // each lowered to the scan-pushable SQL twin on the right
      ("nin", """o_orderpriority: {nin: ["1-URGENT", "5-LOW"]}""",
        "o_orderpriority NOT IN ('1-URGENT', '5-LOW')"),
      ("between", """o_totalprice: {between: [50000, 250000]}""",
        "o_totalprice BETWEEN 50000 AND 250000"),
      ("is_null_false", """o_orderdate: {is_null: false}""",
        "o_orderdate IS NOT NULL"),
      ("is_null_true", """o_orderdate: {is_null: true}""",
        "o_orderdate IS NULL"),
      ("ilike", """o_orderpriority: {ilike: "1-urgent"}""",
        "o_orderpriority ILIKE '1-urgent'"),
      ("nin_combined",
        """o_orderstatus: {nin: ["P"]}, o_totalprice: {between: [10000, 400000]}""",
        "o_orderstatus NOT IN ('P') AND o_totalprice BETWEEN 10000 AND 400000"),
      // two ops on ONE field AND into a range predicate
      ("range", "o_totalprice: {gte: 50000, lt: 200000}",
        "o_totalprice >= 50000 AND o_totalprice < 200000"),
      // bare-value shorthand = eq
      ("shorthand", """o_orderstatus: "F"""", "o_orderstatus = 'F'"),
      // two fields AND
      ("two_fields", """o_orderstatus: {eq: "O"}, o_totalprice: {gt: 150000}""",
        "o_orderstatus = 'O' AND o_totalprice > 150000"))
    for ((nm, g, s) <- rawFilters)
      add(s"raw_filter_$nm",
        s"""{ orders(filter: {$g}, orderBy: ["o_orderkey"], limit: 40) {
              o_orderkey o_totalprice o_orderstatus o_orderpriority } }""",
        s"""SELECT o_orderkey, o_totalprice, o_orderstatus, o_orderpriority
            FROM orders WHERE $s ORDER BY o_orderkey NULLS FIRST LIMIT 40""")

    // boolean combinators (round 16, verdict item 1): `_and`/`_or`/`_not`
    // at every nesting depth, crossed with the existing operator set —
    // the claimed rows parity-check the lowered boolean tree, the rej_
    // rows pin the loud-rejection contract (empty list, non-list operand,
    // non-object _not, unknown column inside a combinator).
    val boolFilters = Seq(
      ("or", """_or: [{o_orderstatus: {eq: "P"}}, {o_totalprice: {gt: 320000}}]""",
        "(o_orderstatus = 'P' OR o_totalprice > 320000)"),
      ("or_one_col",
        """_or: [{o_orderpriority: {eq: "1-URGENT"}}, {o_orderpriority: {eq: "5-LOW"}}]""",
        "(o_orderpriority = '1-URGENT' OR o_orderpriority = '5-LOW')"),
      ("and", """_and: [{o_orderstatus: {eq: "O"}}, {o_totalprice: {gt: 250000}}]""",
        "(o_orderstatus = 'O' AND o_totalprice > 250000)"),
      ("not", """_not: {o_orderstatus: {eq: "O"}}""", "NOT (o_orderstatus = 'O')"),
      ("not_in", """_not: {o_orderstatus: {in: ["O", "F"]}}""",
        "NOT (o_orderstatus IN ('O', 'F'))"),
      ("or_nested_and",
        """_or: [{_and: [{o_orderstatus: {eq: "F"}}, {o_totalprice: {lt: 30000}}]},
                {o_orderpriority: {eq: "1-URGENT"}}]""",
        "((o_orderstatus = 'F' AND o_totalprice < 30000) OR o_orderpriority = '1-URGENT')"),
      ("not_or",
        """_not: {_or: [{o_orderstatus: {eq: "O"}}, {o_orderstatus: {eq: "F"}}]}""",
        "NOT (o_orderstatus = 'O' OR o_orderstatus = 'F')"),
      ("or_sibling_and",
        // a combinator ANDs with its sibling column entry
        """o_totalprice: {gt: 200000},
           _or: [{o_orderstatus: {eq: "O"}}, {o_orderstatus: {eq: "P"}}]""",
        "o_totalprice > 200000 AND (o_orderstatus = 'O' OR o_orderstatus = 'P')"))
    for ((nm, g, s) <- boolFilters)
      add(s"bool_filter_$nm",
        s"""{ orders(filter: {$g}, orderBy: ["o_orderkey"], limit: 40) {
              o_orderkey o_totalprice o_orderstatus o_orderpriority } }""",
        s"""SELECT o_orderkey, o_totalprice, o_orderstatus, o_orderpriority
            FROM orders WHERE $s ORDER BY o_orderkey NULLS FIRST LIMIT 40""")
    // combinators compose with the _agg root's filter AND having (the one
    // filterCond lowering serves every surface)
    add("bool_agg_filter_or",
      """{ orders_agg(groupBy: ["o_orderstatus"],
                      filter: {_or: [{o_orderpriority: {eq: "1-URGENT"}},
                                     {o_orderpriority: {eq: "2-HIGH"}}]},
                      orderBy: ["o_orderstatus"]) {
            o_orderstatus count sum_o_totalprice } }""",
      s"""SELECT o_orderstatus, count(*) AS "count", $sumTP
          FROM orders
          WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
          GROUP BY 1 ORDER BY o_orderstatus NULLS FIRST""")
    add("bool_having_or",
      """{ orders_agg(groupBy: ["o_orderpriority"],
                      having: {_or: [{count: {gt: 4000}},
                                     {sum_o_totalprice: {lt: 200000000.0}}]},
                      orderBy: ["o_orderpriority"]) {
            o_orderpriority count sum_o_totalprice } }""",
      s"""SELECT * FROM (
            SELECT o_orderpriority, count(*) AS "count", $sumTP
            FROM orders GROUP BY 1)
          WHERE "count" > 4000 OR sum_o_totalprice < 200000000.0
          ORDER BY o_orderpriority NULLS FIRST""")
    // ... and with a relation-level filter (object relation, round 15)
    add("bool_relation_filter_or",
      """{ orders(filter: {o_orderstatus: {eq: "P"}}, orderBy: ["o_orderkey"], limit: 30) {
            o_orderkey customer(filter: {_or: [{c_mktsegment: {eq: "BUILDING"}},
                                               {c_acctbal: {lt: 0}}]}) { c_name } } }""",
      """SELECT o_orderkey, c_name
         FROM orders LEFT JOIN customer
           ON o_custkey = c_custkey AND (c_mktsegment = 'BUILDING' OR c_acctbal < 0)
         WHERE o_orderstatus = 'P'
         ORDER BY o_orderkey NULLS FIRST LIMIT 30""")
    // loud-rejection contract for the combinator grammar
    add("rej_bool_empty_or",
      """{ orders(filter: {_or: []}, orderBy: ["o_orderkey"], limit: 5) {
            o_orderkey } }""")
    add("rej_bool_and_not_list",
      """{ orders(filter: {_and: {o_orderstatus: {eq: "O"}}},
                  orderBy: ["o_orderkey"], limit: 5) { o_orderkey } }""")
    add("rej_bool_not_not_object",
      """{ orders(filter: {_not: [{o_orderstatus: {eq: "O"}}]},
                  orderBy: ["o_orderkey"], limit: 5) { o_orderkey } }""")
    add("rej_bool_or_item_not_object",
      """{ orders(filter: {_or: [5, {o_orderstatus: {eq: "O"}}]},
                  orderBy: ["o_orderkey"], limit: 5) { o_orderkey } }""")
    // the TOP-LEVEL filter value itself must be an object: a list (the
    // natural slip given _and/_or take lists) or scalar previously ran
    // UNFILTERED instead of rejecting (review round 16)
    add("rej_filter_not_object",
      """{ orders(filter: [{o_orderstatus: {eq: "O"}}],
                  orderBy: ["o_orderkey"], limit: 5) { o_orderkey } }""")
    add("rej_filter_scalar",
      """{ orders(filter: 5, orderBy: ["o_orderkey"], limit: 5) {
            o_orderkey } }""")
    add("rej_bool_unknown_col_inside",
      """{ orders(filter: {_or: [{o_bogus: {eq: 1}}]},
                  orderBy: ["o_orderkey"], limit: 5) { o_orderkey } }""")
    // round-16 op operand-shape rejections: wrong-arity between, non-bool
    // is_null, non-list nin, empty in/nin list, non-string (i)like
    add("rej_between_arity",
      """{ orders(filter: {o_totalprice: {between: [1, 2, 3]}},
                  orderBy: ["o_orderkey"], limit: 5) { o_orderkey } }""")
    add("rej_is_null_not_bool",
      """{ orders(filter: {o_orderdate: {is_null: "yes"}},
                  orderBy: ["o_orderkey"], limit: 5) { o_orderkey } }""")
    add("rej_nin_not_list",
      """{ orders(filter: {o_orderstatus: {nin: "P"}},
                  orderBy: ["o_orderkey"], limit: 5) { o_orderkey } }""")
    // empty lists are NOT rejections — the Hasura contract: in:[] is the
    // always-false filter, nin:[] the always-true one (review round 16)
    add("in_empty_list",
      """{ orders(filter: {o_orderstatus: {in: []}},
                  orderBy: ["o_orderkey"], limit: 5) { o_orderkey } }""",
      "SELECT o_orderkey FROM orders WHERE FALSE ORDER BY o_orderkey LIMIT 5")
    add("nin_empty_list",
      """{ orders(filter: {o_orderstatus: {nin: []}},
                  orderBy: ["o_orderkey"], limit: 5) { o_orderkey } }""",
      "SELECT o_orderkey FROM orders ORDER BY o_orderkey NULLS FIRST LIMIT 5")
    add("rej_like_not_string",
      """{ orders(filter: {o_orderpriority: {like: 5}},
                  orderBy: ["o_orderkey"], limit: 5) { o_orderkey } }""")

    add("raw_order_desc",
      """{ orders(filter: {o_orderstatus: {eq: "F"}},
                  orderBy: ["-o_totalprice", "o_orderkey"], limit: 25) {
            o_orderkey o_totalprice } }""",
      """SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
         ORDER BY o_totalprice DESC NULLS LAST, o_orderkey NULLS FIRST LIMIT 25""")
    add("raw_order_multi",
      """{ orders(filter: {o_totalprice: {gt: 300000}},
                  orderBy: ["o_orderpriority", "o_orderkey"]) {
            o_orderkey o_orderpriority } }""",
      """SELECT o_orderkey, o_orderpriority FROM orders WHERE o_totalprice > 300000
         ORDER BY o_orderpriority NULLS FIRST, o_orderkey NULLS FIRST""")
    add("raw_page_offset",
      """{ customer(filter: {c_mktsegment: {in: ["BUILDING", "AUTOMOBILE"]}},
                    orderBy: ["c_custkey"], offset: 20, limit: 15) {
            c_custkey c_name c_mktsegment } }""",
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
         ORDER BY c_custkey NULLS FIRST LIMIT 15 OFFSET 20""")
    add("raw_page_offset_desc",
      """{ orders(filter: {o_orderstatus: {eq: "O"}},
                  orderBy: ["-o_totalprice", "o_orderkey"], offset: 5, limit: 10) {
            o_orderkey o_totalprice } }""",
      """SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'O'
         ORDER BY o_totalprice DESC NULLS LAST, o_orderkey NULLS FIRST
         LIMIT 10 OFFSET 5""")

    // nested relations (fk joins), at one / three levels, sibling joins
    add("raw_nested_one",
      """{ orders(filter: {o_orderstatus: {eq: "F"}, o_totalprice: {gt: 250000}},
                  orderBy: ["o_orderkey"], limit: 30) {
            o_orderkey customer { c_name c_acctbal } } }""",
      s"""SELECT o_orderkey, c_name, c_acctbal FROM orders $joinCust
          WHERE o_orderstatus = 'F' AND o_totalprice > 250000
          ORDER BY o_orderkey NULLS FIRST LIMIT 30""")
    add("raw_nested_deep",
      """{ orders(filter: {o_totalprice: {gt: 350000}}, orderBy: ["o_orderkey"]) {
            o_orderkey customer { c_name nation { n_name region { r_name } } } } }""",
      s"""SELECT o_orderkey, c_name, n_name, r_name FROM orders $joinCust
          LEFT JOIN nation ON c_nationkey = n_nationkey
          LEFT JOIN region ON n_regionkey = r_regionkey
          WHERE o_totalprice > 350000 ORDER BY o_orderkey NULLS FIRST""")
    add("raw_nested_siblings",
      """{ lineitem(filter: {l_returnflag: {eq: "R"}, l_quantity: {gt: 48}},
                    orderBy: ["l_orderkey", "l_linenumber"], limit: 30) {
            l_orderkey l_linenumber part { p_name } supplier { s_name } } }""",
      """SELECT l_orderkey, l_linenumber, p_name, s_name FROM lineitem
         LEFT JOIN part ON l_partkey = p_partkey
         LEFT JOIN supplier ON l_suppkey = s_suppkey
         WHERE l_returnflag = 'R' AND l_quantity > 48
         ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST LIMIT 30""")

    // one-to-many subtrees with per-relation arguments (round 14, verdict
    // item 1): filter/orderBy/limit/offset select CHILD ROWS per parent,
    // lowered to a rank window over the child fk (rank-then-join).
    // Childless parents keep one NULL child row (LEFT join).
    add("nested_topk",
      """{ customer(filter: {c_mktsegment: {eq: "BUILDING"}},
                    orderBy: ["c_custkey", "o_orderkey"]) {
            c_custkey orders(orderBy: ["-o_totalprice", "o_orderkey"], limit: 2) {
              o_orderkey o_totalprice } } }""",
      """SELECT c_custkey, o_orderkey, o_totalprice
         FROM customer LEFT JOIN (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC NULLS LAST, o_orderkey NULLS FIRST) AS rn
           FROM orders) t ON c_custkey = o_custkey AND rn <= 2
         WHERE c_mktsegment = 'BUILDING'
         ORDER BY c_custkey NULLS FIRST, o_orderkey NULLS FIRST""")
    add("nested_topk_filtered",
      """{ customer(filter: {c_acctbal: {gt: 9000}},
                    orderBy: ["c_custkey", "o_orderkey"]) {
            c_custkey orders(filter: {o_orderstatus: {eq: "F"}},
                             orderBy: ["o_orderdate", "o_orderkey"], limit: 1) {
              o_orderkey o_orderdate } } }""",
      """SELECT c_custkey, o_orderkey, o_orderdate
         FROM customer LEFT JOIN (
           SELECT o_custkey, o_orderkey, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST) AS rn
           FROM orders WHERE o_orderstatus = 'F') t
           ON c_custkey = o_custkey AND rn <= 1
         WHERE c_acctbal > 9000
         ORDER BY c_custkey NULLS FIRST, o_orderkey NULLS FIRST""")
    add("nested_topk_offset",
      """{ nation(orderBy: ["n_nationkey", "c_custkey"]) {
            n_nationkey customer(orderBy: ["-c_acctbal", "c_custkey"],
                                 offset: 1, limit: 2) {
              c_custkey c_acctbal } } }""",
      """SELECT n_nationkey, c_custkey, c_acctbal
         FROM nation LEFT JOIN (
           SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC NULLS LAST, c_custkey NULLS FIRST) AS rn
           FROM customer) t
           ON n_nationkey = c_nationkey AND rn > 1 AND rn <= 3
         ORDER BY n_nationkey NULLS FIRST, c_custkey NULLS FIRST""")
    add("nested_filter_only",
      // per-relation filter WITHOUT limit: a plain filtered left join —
      // no window in the plan
      """{ nation(orderBy: ["n_nationkey", "c_custkey"]) {
            n_name customer(filter: {c_acctbal: {gt: 9900}}) {
              c_custkey c_acctbal } } }""",
      """SELECT n_name, c_custkey, c_acctbal
         FROM nation LEFT JOIN (
           SELECT c_nationkey, c_custkey, c_acctbal FROM customer
           WHERE c_acctbal > 9900) t ON n_nationkey = c_nationkey
         ORDER BY n_nationkey NULLS FIRST, c_custkey NULLS FIRST""")
    // nondeterministic per-parent selection must reject loudly
    add("rej_nested_limit_no_orderby",
      """{ customer(orderBy: ["c_custkey"]) {
            c_custkey orders(limit: 3) { o_orderkey } } }""")
    // root paging over a row-multiplying subtree pages FLATTENED rows,
    // not parents — rejected rather than silently mislabeled
    add("rej_root_limit_with_nested_rows",
      """{ customer(orderBy: ["c_custkey", "o_orderkey"], limit: 5) {
            c_custkey orders(orderBy: ["o_orderkey"], limit: 2) {
              o_orderkey } } }""")

    // aliases at both depths; orderBy resolves through the alias
    add("raw_alias",
      """{ orders(filter: {o_orderstatus: {eq: "O"}}, orderBy: ["id"], limit: 30) {
            id: o_orderkey price: o_totalprice customer { who: c_name } } }""",
      s"""SELECT o_orderkey AS id, o_totalprice AS price, c_name AS who
          FROM orders $joinCust WHERE o_orderstatus = 'O'
          ORDER BY id NULLS FIRST LIMIT 30""")

    // fragments: two spreads at different depths
    add("raw_fragments",
      """{ orders(filter: {o_totalprice: {gt: 320000}}, orderBy: ["o_orderkey"]) {
            ...core customer { ...cust } } }
         fragment core on orders { o_orderkey o_totalprice }
         fragment cust on customer { c_name c_mktsegment }""",
      s"""SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
          FROM orders $joinCust WHERE o_totalprice > 320000
          ORDER BY o_orderkey NULLS FIRST""")

    // variables: defaulted, provided, list-valued, page-size
    add("raw_var_default",
      """query($status: String = "F") {
           orders(filter: {o_orderstatus: {eq: $status}}, orderBy: ["o_orderkey"],
                  limit: 20) { o_orderkey o_orderstatus } }""",
      """SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
         ORDER BY o_orderkey NULLS FIRST LIMIT 20""")
    add("raw_var_provided",
      """query($minPrice: Float, $n: Int) {
           orders(filter: {o_totalprice: {gt: $minPrice}},
                  orderBy: ["o_orderkey"], limit: $n) { o_orderkey o_totalprice } }""",
      """SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 250000
         ORDER BY o_orderkey NULLS FIRST LIMIT 12""",
      vars = Map("minPrice" -> GraphQL.VFloat(250000.0), "n" -> GraphQL.VInt(12)))
    add("raw_var_list",
      """query($segs: [String] = ["BUILDING", "MACHINERY"]) {
           customer(filter: {c_mktsegment: {in: $segs}}, orderBy: ["c_custkey"],
                    limit: 25) { c_custkey c_mktsegment } }""",
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
         ORDER BY c_custkey NULLS FIRST LIMIT 25""")

    // directives: static skip, variable include on scalar + whole subtree
    add("raw_dir_scalar",
      """query($noPrice: Boolean!) {
           orders(filter: {o_orderstatus: {eq: "F"}}, orderBy: ["o_orderkey"],
                  limit: 20) {
             o_orderkey
             o_totalprice @skip(if: $noPrice)
             o_orderpriority @skip(if: true) } }""",
      """SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
         ORDER BY o_orderkey NULLS FIRST LIMIT 20""",
      vars = Map("noPrice" -> GraphQL.VBool(false)))
    add("raw_dir_subtree_off",
      """query($withCust: Boolean = false) {
           orders(filter: {o_totalprice: {gt: 320000}}, orderBy: ["o_orderkey"]) {
             o_orderkey customer @include(if: $withCust) { c_name } } }""",
      // the relation is pruned before planning: no join in the mirror
      """SELECT o_orderkey FROM orders WHERE o_totalprice > 320000
         ORDER BY o_orderkey NULLS FIRST""")

    // =====================================================================
    // B. aggregation root: groupBy kind × fieldset × filter/having/order/page
    // =====================================================================
    // (tag, groupBy arg, emitted key name, SQL key select, SQL from)
    val gbs = Seq(
      ("status", """["o_orderstatus"]""", "o_orderstatus",
        "o_orderstatus", "FROM orders"),
      ("prio", """["o_orderpriority"]""", "o_orderpriority",
        "o_orderpriority", "FROM orders"),
      ("seg", """["customer.c_mktsegment"]""", "customer_c_mktsegment",
        "c_mktsegment AS customer_c_mktsegment", s"FROM orders $joinCust"))
    val fieldsets = Seq(
      ("count", Seq("count"), Seq("""count(*) AS "count"""")),
      ("sum", Seq("count", "sum_o_totalprice"),
        Seq("""count(*) AS "count"""", sumTP)),
      ("full", Seq("count", "sum_o_totalprice", "avg_o_totalprice",
        "min_o_totalprice", "max_o_totalprice"),
        Seq("""count(*) AS "count"""", sumTP, avgTP,
          "min(o_totalprice) AS min_o_totalprice",
          "max(o_totalprice) AS max_o_totalprice")),
      ("countd", Seq("count", "countd_o_custkey"),
        Seq("""count(*) AS "count"""",
          "CAST(count(DISTINCT o_custkey) AS BIGINT) AS countd_o_custkey")))

    def aggCase(tag: String, gb: (String, String, String, String, String),
                fs: (String, Seq[String], Seq[String]),
                filterG: String = null, filterS: String = null,
                havingG: String = null, havingS: String = null,
                orderG: String = null, orderS: String = null,
                page: String = "", pageS: String = ""): Unit = {
      val (gtag, gbArg, keyName, keySel, from) = gb
      val args = Seq(s"groupBy: $gbArg") ++
        Option(filterG).map(f => s"filter: {$f}") ++
        Option(havingG).map(h => s"having: {$h}") ++
        Seq("orderBy: " + Option(orderG).getOrElse(s"""["$keyName"]""")) ++
        (if (page.nonEmpty) Seq(page) else Nil)
      val gql = s"""{ orders_agg(${args.mkString(", ")}) {
                      $keyName ${fs._2.mkString(" ")} } }"""
      val orderSql = Option(orderS).getOrElse(s"$keyName NULLS FIRST")
      val inner = s"SELECT $keySel, ${fs._3.mkString(", ")} $from " +
        Option(filterS).map(f => s"WHERE $f ").getOrElse("") + "GROUP BY 1"
      val sql =
        if (havingS == null) s"$inner ORDER BY $orderSql $pageS"
        else s"SELECT * FROM ($inner) WHERE $havingS ORDER BY $orderSql $pageS"
      add(s"agg_${gtag}_$tag", gql, sql)
    }

    for (gb <- gbs) {
      for (fs <- fieldsets) aggCase(s"plain_${fs._1}", gb, fs)
      val fsSum = fieldsets(1)
      aggCase("filter", gb, fsSum,
        filterG = "o_totalprice: {gt: 50000}", filterS = "o_totalprice > 50000")
      aggCase("having_count", gb, fsSum,
        havingG = "count: {gt: 250}", havingS = "\"count\" > 250")
      aggCase("having_sum", gb, fsSum,
        havingG = "sum_o_totalprice: {gt: 50000000.0}",
        havingS = "sum_o_totalprice > 50000000.0")
      aggCase("order_agg", gb, fsSum,
        orderG = s"""["-sum_o_totalprice", "${gb._3}"]""",
        orderS = s"sum_o_totalprice DESC NULLS LAST, ${gb._3} NULLS FIRST",
        page = "limit: 3", pageS = "LIMIT 3")
      aggCase("order_agg_page", gb, fsSum,
        orderG = s"""["-sum_o_totalprice", "${gb._3}"]""",
        orderS = s"sum_o_totalprice DESC NULLS LAST, ${gb._3} NULLS FIRST",
        page = "offset: 1, limit: 2", pageS = "LIMIT 2 OFFSET 1")
      aggCase("chain", gb, fsSum,
        filterG = "o_totalprice: {gt: 1000}", filterS = "o_totalprice > 1000",
        havingG = "count: {gt: 50}", havingS = "\"count\" > 50",
        orderG = s"""["-sum_o_totalprice", "${gb._3}"]""",
        orderS = s"sum_o_totalprice DESC NULLS LAST, ${gb._3} NULLS FIRST",
        page = "limit: 3", pageS = "LIMIT 3")
      aggCase("having_countd", gb, fieldsets(3),
        havingG = "countd_o_custkey: {gt: 10}", havingS = "countd_o_custkey > 10")
      aggCase("having_avg", gb, fieldsets(2),
        havingG = "avg_o_totalprice: {gt: 140000.0}",
        havingS = "avg_o_totalprice > 140000.0")
      // round-16 op breadth composes with having for free: the same
      // filterCond/predicate lowering serves every filter surface
      aggCase("having_between", gb, fsSum,
        havingG = "count: {between: [100, 3000]}",
        havingS = "\"count\" BETWEEN 100 AND 3000")
      aggCase("filter_nin", gb, fsSum,
        filterG = """o_orderpriority: {nin: ["1-URGENT", "5-LOW"]}""",
        filterS = "o_orderpriority NOT IN ('1-URGENT', '5-LOW')")
    }

    // multi-key groupBy (own pair, and dotted+own mix)
    add("agg_two_keys",
      """{ orders_agg(groupBy: ["o_orderstatus", "o_orderpriority"],
                      orderBy: ["o_orderstatus", "o_orderpriority"]) {
            o_orderstatus o_orderpriority count sum_o_totalprice } }""",
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS "count", $sumTP
          FROM orders GROUP BY 1, 2
          ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")
    add("agg_two_keys_mixed",
      """{ orders_agg(groupBy: ["customer.c_mktsegment", "o_orderstatus"],
                      orderBy: ["customer_c_mktsegment", "o_orderstatus"]) {
            customer_c_mktsegment o_orderstatus count } }""",
      s"""SELECT c_mktsegment AS customer_c_mktsegment, o_orderstatus,
            count(*) AS "count"
          FROM orders $joinCust GROUP BY 1, 2
          ORDER BY customer_c_mktsegment NULLS FIRST, o_orderstatus NULLS FIRST""")
    // variables/fragments/directives THROUGH the aggregation root
    add("agg_var_groupby",
      """query($gb: [String] = ["o_orderstatus"], $n: Int = 3) {
           orders_agg(groupBy: $gb, orderBy: ["o_orderstatus"], limit: $n) {
             o_orderstatus count } }""",
      """SELECT o_orderstatus, count(*) AS "count" FROM orders GROUP BY 1
         ORDER BY o_orderstatus NULLS FIRST LIMIT 3""")
    add("agg_dir_field",
      """query($noSum: Boolean = true) {
           orders_agg(groupBy: ["o_orderpriority"], orderBy: ["o_orderpriority"]) {
             o_orderpriority count sum_o_totalprice @skip(if: $noSum) } }""",
      """SELECT o_orderpriority, count(*) AS "count" FROM orders GROUP BY 1
         ORDER BY o_orderpriority NULLS FIRST""")
    add("agg_fragment",
      """{ orders_agg(groupBy: ["o_orderstatus"], orderBy: ["o_orderstatus"]) {
            o_orderstatus ...aggCore } }
         fragment aggCore on orders_agg { count sum_o_totalprice }""",
      s"""SELECT o_orderstatus, count(*) AS "count", $sumTP
          FROM orders GROUP BY 1 ORDER BY o_orderstatus NULLS FIRST""")

    // =====================================================================
    // C. nested `<rel>_agg` rollups (aggregate-then-join)
    // =====================================================================
    add("nested_agg_plain",
      """{ customer(orderBy: ["c_custkey"], limit: 40) {
            c_custkey orders_agg { count sum_o_totalprice } } }""",
      s"""SELECT c_custkey, coalesce("count", 0) AS "count", sum_o_totalprice
          FROM customer LEFT JOIN (
            SELECT o_custkey, count(*) AS "count", $sumTP
            FROM orders GROUP BY o_custkey) agg ON c_custkey = o_custkey
          ORDER BY c_custkey NULLS FIRST LIMIT 40""")
    add("nested_agg_filtered",
      """{ customer(filter: {c_mktsegment: {eq: "BUILDING"}},
                    orderBy: ["c_custkey"], limit: 40) {
            c_custkey c_mktsegment
            orders_agg(filter: {o_orderstatus: {eq: "F"}}) {
              count sum_o_totalprice max_o_orderdate } } }""",
      s"""SELECT c_custkey, c_mktsegment,
            coalesce("count", 0) AS "count", sum_o_totalprice, max_o_orderdate
          FROM customer LEFT JOIN (
            SELECT o_custkey, count(*) AS "count", $sumTP,
              max(o_orderdate) AS max_o_orderdate
            FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey) agg
            ON c_custkey = o_custkey
          WHERE c_mktsegment = 'BUILDING'
          ORDER BY c_custkey NULLS FIRST LIMIT 40""")
    add("nested_agg_order_by_child",
      // round 14: parents ORDERED AND PAGED by a child aggregate (the
      // Hasura order_by-aggregate leaderboard) — the rollup joins before
      // the root orderBy, so the root sorts on its output column; count
      // coalesces to 0 so childless parents page deterministically
      """{ customer(filter: {c_mktsegment: {eq: "BUILDING"}},
                    orderBy: ["-n_orders", "c_custkey"], limit: 12) {
            c_custkey orders_agg { n_orders: count } } }""",
      """SELECT c_custkey, coalesce(n_orders, 0) AS n_orders
          FROM customer LEFT JOIN (
            SELECT o_custkey, count(*) AS n_orders
            FROM orders GROUP BY o_custkey) agg ON c_custkey = o_custkey
          WHERE c_mktsegment = 'BUILDING'
          ORDER BY coalesce(n_orders, 0) DESC NULLS LAST, c_custkey NULLS FIRST
          LIMIT 12""")
    add("nested_agg_countd",
      """{ nation(orderBy: ["n_nationkey"]) {
            n_nationkey n_name customer_agg { count countd_c_mktsegment } } }""",
      """SELECT n_nationkey, n_name,
           coalesce("count", 0) AS "count", countd_c_mktsegment
         FROM nation LEFT JOIN (
           SELECT c_nationkey, count(*) AS "count",
             CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS countd_c_mktsegment
           FROM customer GROUP BY c_nationkey) agg ON n_nationkey = c_nationkey
         ORDER BY n_nationkey NULLS FIRST""")
    add("nested_agg_lineitem",
      """{ orders(filter: {o_orderstatus: {eq: "F"}}, orderBy: ["o_orderkey"],
                  limit: 30) {
            o_orderkey lineitem_agg { count sum_l_quantity } } }""",
      """SELECT o_orderkey, coalesce("count", 0) AS "count", sum_l_quantity
         FROM orders LEFT JOIN (
           SELECT l_orderkey, count(*) AS "count",
             CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 4) AS DOUBLE)
               AS sum_l_quantity
           FROM lineitem GROUP BY l_orderkey) agg ON o_orderkey = l_orderkey
         WHERE o_orderstatus = 'F' ORDER BY o_orderkey NULLS FIRST LIMIT 30""")
    add("nested_agg_siblings",
      """{ nation(orderBy: ["n_nationkey"]) {
            n_nationkey
            customer_agg { customers: count }
            supplier_agg { suppliers: count } } }""",
      """SELECT n_nationkey,
           coalesce(customers, 0) AS customers, coalesce(suppliers, 0) AS suppliers
         FROM nation
         LEFT JOIN (SELECT c_nationkey, count(*) AS customers
                    FROM customer GROUP BY 1) ca ON n_nationkey = c_nationkey
         LEFT JOIN (SELECT s_nationkey, count(*) AS suppliers
                    FROM supplier GROUP BY 1) sa ON n_nationkey = s_nationkey
         ORDER BY n_nationkey NULLS FIRST""")
    add("nested_agg_beside_rel",
      """{ customer(orderBy: ["c_custkey"], limit: 25) {
            c_custkey nation { n_name } orders_agg { count } } }""",
      """SELECT c_custkey, n_name, coalesce("count", 0) AS "count"
         FROM customer
         LEFT JOIN nation ON c_nationkey = n_nationkey
         LEFT JOIN (SELECT o_custkey, count(*) AS "count"
                    FROM orders GROUP BY 1) agg ON c_custkey = o_custkey
         ORDER BY c_custkey NULLS FIRST LIMIT 25""")

    // =====================================================================
    // D. introspection
    // =====================================================================
    val allTables = Seq("customer", "documents", "embeddings", "events",
      "lineitem", "nation", "orders", "part", "region", "supplier")
    add("introspect_full", "{ __schema { tables { name n_columns } } }",
      allTables.map(t => s"""SELECT '$t' AS name, (SELECT CAST(count(*) AS BIGINT)
             FROM (DESCRIBE SELECT * FROM $t)) AS n_columns""")
        .mkString("SELECT name, n_columns FROM (", " UNION ALL ",
          ") ORDER BY name NULLS FIRST"))
    add("introspect_names", "{ __schema { tables { name } } }",
      allTables.map(t => s"SELECT '$t' AS name")
        .mkString("SELECT name FROM (", " UNION ALL ",
          ") ORDER BY name NULLS FIRST"))

    // =====================================================================
    // E. unclaimed: must reject LOUDLY (stale-claim detection both ways)
    // =====================================================================
    add("rej_unknown_table", "{ warehouses { w_id } }")
    add("rej_unknown_column",
      """{ orders(orderBy: ["o_orderkey"], limit: 5) { o_orderkey o_nope } }""")
    add("rej_unknown_op",
      """{ orders(filter: {o_totalprice: {approx: 5}}, orderBy: ["o_orderkey"]) {
            o_orderkey } }""")
    add("rej_unknown_agg_field",
      """{ orders_agg(groupBy: ["o_orderstatus"], orderBy: ["o_orderstatus"]) {
            o_orderstatus median_o_totalprice } }""")
    add("rej_raw_column_at_agg_root",
      """{ orders_agg(groupBy: ["o_orderstatus"], orderBy: ["o_orderstatus"]) {
            o_orderstatus o_orderkey count } }""")
    add("rej_groupby_missing",
      """{ orders_agg(orderBy: ["o_orderstatus"]) { o_orderstatus count } }""")
    add("rej_unknown_relation",
      """{ orders(orderBy: ["o_orderkey"], limit: 5) { o_orderkey part { p_name } } }""")
    add("rej_dotted_unknown_rel",
      """{ orders_agg(groupBy: ["part.p_type"], orderBy: ["part_p_type"]) {
            part_p_type count } }""")
    // NOT rejected (first-run finding): the raw dotted key in orderBy
    // resolves through the pre-projection join attribute (Spark's
    // order-by-missing-column resolution) — same values as the emitted
    // customer_c_mktsegment, deterministic, so the ergonomic form is
    // CLAIMED rather than outlawed
    add("agg_dotted_orderby_raw",
      """{ orders_agg(groupBy: ["customer.c_mktsegment"],
                      orderBy: ["customer.c_mktsegment"]) {
            customer_c_mktsegment count } }""",
      s"""SELECT c_mktsegment AS customer_c_mktsegment, count(*) AS "count"
          FROM orders $joinCust GROUP BY 1
          ORDER BY customer_c_mktsegment NULLS FIRST""")
    add("rej_alias_at_agg_root",
      """{ orders_agg(groupBy: ["o_orderstatus"], orderBy: ["o_orderstatus"]) {
            o_orderstatus n: count } }""")
    add("rej_alias_on_relation",
      """{ orders(orderBy: ["o_orderkey"], limit: 5) {
            o_orderkey buyer: customer { c_name } } }""")
    add("args_on_relation_filter",
      // round 15: a FILTER on a many-to-one relation is now supported
      // (Hasura object semantics — parent kept, object nulled); this row
      // was a loud rejection through round 14
      """{ orders(orderBy: ["o_orderkey"], limit: 5) {
            o_orderkey customer(filter: {c_acctbal: {gt: 0}}) { c_name } } }""",
      """SELECT o_orderkey, c_name
         FROM orders LEFT JOIN customer
           ON o_custkey = c_custkey AND c_acctbal > 0
         ORDER BY o_orderkey NULLS FIRST LIMIT 5""")
    add("rej_fragment_wrong_type",
      """{ orders(orderBy: ["o_orderkey"], limit: 5) { ...cust } }
         fragment cust on customer { c_name }""")
    add("rej_fragment_undefined",
      """{ orders(orderBy: ["o_orderkey"], limit: 5) { ...nope } }""")
    add("rej_var_undeclared",
      """{ orders(filter: {o_orderstatus: {eq: $status}}, orderBy: ["o_orderkey"]) {
            o_orderkey } }""")
    add("rej_var_missing",
      """query($status: String) {
           orders(filter: {o_orderstatus: {eq: $status}}, orderBy: ["o_orderkey"]) {
             o_orderkey } }""")
    add("rej_unknown_directive",
      """{ orders(orderBy: ["o_orderkey"], limit: 5) {
            o_orderkey @once(if: true) } }""")
    add("rej_schema_unknown_field",
      "{ __schema { tables { name owner } } }")
    // the round-12 checkArgs contract: unknown argument NAMES reject
    // (previously silently ignored — the fuzzer's first catch)
    add("rej_having_at_raw_root",
      """{ orders(having: {count: {gt: 5}}, orderBy: ["o_orderkey"], limit: 5) {
            o_orderkey } }""")
    add("rej_groupby_at_raw_root",
      """{ orders(groupBy: ["o_orderstatus"], orderBy: ["o_orderkey"], limit: 5) {
            o_orderkey } }""")
    add("rej_misspelled_arg",
      """{ orders(orderBy: ["o_orderkey"], limt: 5) { o_orderkey } }""")
    add("rej_agg_misspelled_arg",
      """{ orders_agg(groupBy: ["o_orderstatus"], orderBy: ["o_orderstatus"],
                      ofset: 1) { o_orderstatus count } }""")
    add("rej_nested_agg_orderby",
      """{ customer(orderBy: ["c_custkey"], limit: 5) {
            c_custkey orders_agg(orderBy: ["-count"]) { count } } }""")
    add("rej_order_by_unselected_agg",
      // the order-by-child-aggregate shape requires the rollup IN the
      // selection — ordering by a never-selected aggregate output must
      // fail loudly (unresolved column), not silently ignore the key
      """{ customer(orderBy: ["-n_orders"], limit: 5) { c_custkey } }""")
    add("rej_schema_with_args",
      """{ __schema(limit: 1) { tables { name } } }""")

    // =====================================================================
    // F. catalog mutations (round 13, verdict item 7) — asserted BOTH
    // ways like everything else: claimed mutations must APPLY (the
    // following claimed query reads the registered name — matrix cases
    // run in declaration order in one JVM, so the register → read →
    // unregister → gone sequence is a real lifecycle), unclaimed
    // mutation shapes must reject loudly.
    // =====================================================================
    add("mut_register",
      s"""mutation { registerDataset(name: "fuzz_regions",
            path: "$sfDir/region.parquet", format: "parquet") {
            name format } }""",
      """SELECT 'fuzz_regions' AS name, 'parquet' AS format""")
    add("mut_registered_query",
      // applied+readable: the name registered by the PREVIOUS case
      // resolves at a raw root exactly like a fixture table
      """{ fuzz_regions(orderBy: ["r_regionkey"]) { r_regionkey r_name } }""",
      """SELECT r_regionkey, r_name FROM region
         ORDER BY r_regionkey NULLS FIRST""")
    add("mut_registered_introspect",
      // and in introspection — discovery shares the planning catalog
      "{ __schema { tables { name } } }",
      (allTables :+ "fuzz_regions").sorted.map(t => s"SELECT '$t' AS name")
        .mkString("SELECT name FROM (", " UNION ALL ",
          ") ORDER BY name NULLS FIRST"))
    add("mut_unregister",
      """mutation { unregisterDataset(name: "fuzz_regions") { name } }""",
      """SELECT 'fuzz_regions' AS name""")
    add("rej_mut_gone",
      // the unregistered name must STOP resolving — a stale claim here
      // means unregister silently failed
      """{ fuzz_regions(orderBy: ["r_regionkey"]) { r_regionkey } }""")
    add("rej_mut_unknown_field",
      """mutation { dropEverything(name: "x") { name } }""")
    add("rej_mut_missing_arg",
      """mutation { registerDataset(name: "half_baked") { name } }""")
    add("rej_mut_bad_format",
      s"""mutation { registerDataset(name: "evil",
            path: "$sfDir/region.parquet", format: "jdbc") { name } }""")
    add("rej_mut_shadow_builtin",
      s"""mutation { registerDataset(name: "orders",
            path: "$sfDir/region.parquet", format: "parquet") { name } }""")
    add("rej_mut_bad_name",
      s"""mutation { registerDataset(name: "no spaces;",
            path: "$sfDir/region.parquet", format: "parquet") { name } }""")
    add("rej_mut_unknown_result_field",
      s"""mutation { registerDataset(name: "fuzz_tmp",
            path: "$sfDir/region.parquet", format: "parquet") {
            name owner } }""")
    add("rej_mut_unregister_absent",
      """mutation { unregisterDataset(name: "never_registered") { name } }""")
    add("rej_mut_query_kw_mutation_field",
      // a mutation FIELD under a query operation is just an unknown table
      """{ registerDataset(name: "x") { name } }""")

    // the `_agg` ROOT over a REGISTERED dataset (round 17, verdict item
    // 2): register → grouped aggregate with filter/having/orderBy at the
    // registered root (claimed — the oracle is the identical aggregate
    // over the underlying fixture) → unknown-agg-field and unknown-arg
    // rejections on the SAME registered root (the fail-loudly contract
    // must not weaken when the root is dynamic) → unregister → the agg
    // root must stop resolving.
    add("mut_register_agg",
      s"""mutation { registerDataset(name: "fuzz_orders",
            path: "$sfDir/orders.parquet", format: "parquet") {
            name format } }""",
      """SELECT 'fuzz_orders' AS name, 'parquet' AS format""")
    add("reg_agg_grouped",
      """{ fuzz_orders_agg(groupBy: ["o_orderstatus"],
            filter: {o_totalprice: {between: [1000, 300000]}},
            having: {count: {gt: 10}}, orderBy: ["o_orderstatus"]) {
            o_orderstatus count sum_o_totalprice avg_o_totalprice } }""",
      s"""SELECT * FROM (
           SELECT o_orderstatus, count(*) AS "count", $sumTP, $avgTP
           FROM orders WHERE o_totalprice BETWEEN 1000 AND 300000
           GROUP BY 1)
         WHERE "count" > 10 ORDER BY o_orderstatus NULLS FIRST""")
    add("rej_reg_agg_unknown_field",
      // unknown aggregate selection on the REGISTERED root rejects as
      // loudly as on a fixture root (aggExpr's unknown-aggregate throw)
      """{ fuzz_orders_agg(groupBy: ["o_orderstatus"]) {
            o_orderstatus count median_o_totalprice } }""")
    add("rej_reg_agg_unknown_src",
      // aggregate over a column the registered schema lacks
      """{ fuzz_orders_agg(groupBy: ["o_orderstatus"]) {
            o_orderstatus sum_no_such_col } }""")
    add("rej_reg_agg_unknown_arg",
      """{ fuzz_orders_agg(groupby: ["o_orderstatus"]) { count } }""")
    add("mut_unregister_agg",
      """mutation { unregisterDataset(name: "fuzz_orders") { name } }""",
      """SELECT 'fuzz_orders' AS name""")
    add("rej_reg_agg_gone",
      """{ fuzz_orders_agg(groupBy: ["o_orderstatus"]) {
            o_orderstatus count } }""")

    // =====================================================================
    // G. round 15: distinct_on, object-relation filters, saved-query
    // mutations — asserted both ways like everything else.
    // =====================================================================
    add("don_basic",
      """{ orders(distinct_on: ["o_custkey"], filter: {o_orderstatus: {eq: "F"}},
            orderBy: ["o_custkey", "-o_totalprice", "o_orderkey"], limit: 30) {
            o_custkey o_orderkey o_totalprice } }""",
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC NULLS LAST, o_orderkey NULLS FIRST) AS rn
           FROM orders WHERE o_orderstatus = 'F') t
         WHERE rn = 1 ORDER BY o_custkey NULLS FIRST LIMIT 30""")
    add("don_multi_col",
      // two distinct_on columns: first row per (status, priority) pair
      """{ orders(distinct_on: ["o_orderstatus", "o_orderpriority"],
            orderBy: ["o_orderstatus", "o_orderpriority", "o_orderdate", "o_orderkey"]) {
            o_orderstatus o_orderpriority o_orderkey o_orderdate } }""",
      """SELECT o_orderstatus, o_orderpriority, o_orderkey, o_orderdate FROM (
           SELECT o_orderstatus, o_orderpriority, o_orderkey, o_orderdate,
             row_number() OVER (PARTITION BY o_orderstatus, o_orderpriority
               ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST) AS rn
           FROM orders) t
         WHERE rn = 1
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")
    add("rej_don_no_orderby",
      """{ orders(distinct_on: ["o_custkey"]) { o_custkey o_orderkey } }""")
    add("rej_don_bad_prefix",
      """{ orders(distinct_on: ["o_custkey"],
            orderBy: ["-o_totalprice", "o_custkey"]) { o_custkey } }""")
    add("rej_don_no_tiebreak",
      """{ orders(distinct_on: ["o_custkey"],
            orderBy: ["o_custkey"]) { o_custkey o_orderkey } }""")
    add("objf_basic",
      """{ orders(filter: {o_orderstatus: {eq: "F"}, o_totalprice: {gt: 250000}},
            orderBy: ["o_orderkey"], limit: 50) {
            o_orderkey customer(filter: {c_mktsegment: {eq: "BUILDING"}}) {
              c_name c_mktsegment } } }""",
      """SELECT o_orderkey, c_name, c_mktsegment
         FROM orders LEFT JOIN customer
           ON o_custkey = c_custkey AND c_mktsegment = 'BUILDING'
         WHERE o_orderstatus = 'F' AND o_totalprice > 250000
         ORDER BY o_orderkey NULLS FIRST LIMIT 50""")
    add("objf_nested_subtree",
      // a filtered-away object must null its OWN subtree too
      """{ orders(filter: {o_totalprice: {gt: 400000}}, orderBy: ["o_orderkey"]) {
            o_orderkey customer(filter: {c_acctbal: {gt: 5000}}) {
              c_name nation { n_name } } } }""",
      """SELECT o_orderkey, c_name, n_name
         FROM orders
         LEFT JOIN customer ON o_custkey = c_custkey AND c_acctbal > 5000
         LEFT JOIN nation ON c_nationkey = n_nationkey
         WHERE o_totalprice > 400000
         ORDER BY o_orderkey NULLS FIRST""")
    add("rej_objf_limit",
      // ordering/paging on an at-most-one-row object is meaningless
      """{ orders(orderBy: ["o_orderkey"], limit: 5) {
            o_orderkey customer(limit: 1) { c_name } } }""")
    add("rej_objf_orderby",
      """{ orders(orderBy: ["o_orderkey"], limit: 5) {
            o_orderkey customer(orderBy: ["c_name"]) { c_name } } }""")
    // saved-query mutation lifecycle (save → duplicate rejects → delete →
    // delete-again rejects); matrix cases run in declaration order
    add("mut_save_query",
      """mutation { saveQuery(name: "fuzz_saved", dialect: "nl",
            text: "top 3 customers by total order price") { name dialect } }""",
      """SELECT 'fuzz_saved' AS name, 'nl' AS dialect""")
    add("rej_mut_save_duplicate",
      """mutation { saveQuery(name: "fuzz_saved", dialect: "sql",
            text: "SELECT 1 AS one") { name } }""")
    add("mut_delete_query",
      """mutation { deleteQuery(name: "fuzz_saved") { name } }""",
      """SELECT 'fuzz_saved' AS name""")
    add("rej_mut_delete_query_absent",
      """mutation { deleteQuery(name: "fuzz_saved") { name } }""")
    add("rej_mut_save_mutation_text",
      // a saved MUTATION would re-run its write on every execution (the
      // inner text avoids quotes — the int arg keeps it parseable, so the
      // rejection is the read-only gate, not a parse accident)
      """mutation { saveQuery(name: "sneaky", dialect: "graphql",
            text: "mutation { deleteQuery(name: 123) { name } }") { name } }""")
    add("rej_mut_save_bad_dialect",
      """mutation { saveQuery(name: "x", dialect: "cypher",
            text: "MATCH (n) RETURN n") { name } }""")
    add("rej_mut_save_unparseable_nl",
      """mutation { saveQuery(name: "x", dialect: "nl",
            text: "summon the dragons") { name } }""")
    add("rej_mut_save_sql_unknown_table",
      """mutation { saveQuery(name: "x", dialect: "sql",
            text: "SELECT * FROM no_such_tbl") { name } }""")
    add("rej_mut_save_unknown_result_field",
      """mutation { saveQuery(name: "x", dialect: "sql",
            text: "SELECT 1 AS one") { name owner } }""")

    out.result()
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.GqlFuzz <sfDir> <outDir>")
    val (sfDir, outDir) = (args(0), args(1))
    val spark = GraftSession("graft-gql-fuzz")
    new java.io.File(outDir).mkdirs()

    def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n")
    val qs = matrix(sfDir)
    var bad = 0
    val manifest = qs.map { q =>
      if (q.claimed) {
        try {
          GraphQL.runWithVariables(spark, sfDir, q.gql, q.vars)
            .write.mode("overwrite").parquet(s"$outDir/${q.name}.parquet")
          s""""${q.name}":{"status":"translated","gql":"${esc(q.gql)}","sql":"${esc(q.sql.get)}"}"""
        } catch {
          case e: Exception =>
            bad += 1
            System.err.println(s"[gqlfuzz] UNPRODUCIBLE claimed composition " +
              s"${q.name} -> ${e.getMessage}")
            s""""${q.name}":{"status":"unproducible","gql":"${esc(q.gql)}"}"""
        }
      } else {
        try {
          GraphQL.runWithVariables(spark, sfDir, q.gql, q.vars).schema
          bad += 1
          System.err.println(s"[gqlfuzz] STALE CLAIM TABLE: unclaimed " +
            s"${q.name} planned — add it to the parity matrix")
          s""""${q.name}":{"status":"unclaimed_translated","gql":"${esc(q.gql)}"}"""
        } catch {
          case e: Exception =>
            require(e.getMessage != null && e.getMessage.nonEmpty,
              s"empty rejection message for ${q.name}")
            s""""${q.name}":{"status":"rejected","gql":"${esc(q.gql)}"}"""
        }
      }
    }
    val json = manifest.mkString(
      s"""{"n":${qs.size},"bad":$bad,"questions":{""", ",", "}}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "fuzz_manifest.json"), json)
    System.err.println(s"[gqlfuzz] ${qs.size} cases, " +
      s"${qs.count(_.claimed)} claimed, bad=$bad")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
