package graft.dialects

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{CatalogStore, DatasetRegistry, TableRegistry}

/** GraphQL dialect front-end (SURVEY.md §2.9, §3.2 EP3): the reference
  * declares GraphQL as one of its three query languages (reference
  * README.md:2); here a GraphQL selection lowers onto the same DataFrame
  * operator space as SQL — the translator adds zero execution machinery.
  *
  * Supported subset (the GraphQL query shape over tabular data):
  *   { table(filter: {col: {op: val}, ...}, orderBy: ["col", ...],
  *           limit: N, offset: N) { col ... relation { col ... } } }
  * ops: eq ne gt gte lt lte like in. Nested relations resolve through
  * `TableRegistry.relations` as left joins; nested scalar selections emit
  * flat columns (SURVEY.md §7.4 — nesting stays in the API layer, flat
  * columns go to the oracle).
  */
object GraphQL {

  // ---- AST -----------------------------------------------------------------
  sealed trait Value
  case class VInt(v: Long) extends Value
  case class VFloat(v: Double) extends Value
  case class VString(v: String) extends Value
  case class VBool(v: Boolean) extends Value
  case class VList(v: List[Value]) extends Value
  case class VObj(v: List[(String, Value)]) extends Value
  /** A `$name` variable reference — resolved by [[bind]] before planning. */
  case class VVar(name: String) extends Value

  /** `alias` is GraphQL's `outName: field` output renaming (scalar
    * selections only; an aliased relation or `_agg` selection fails
    * loudly in the planner).
    */
  /** `directives` holds `@skip(if:)` / `@include(if:)` (values may be
    * `$var` references until [[bind]]); selections they remove are pruned
    * AFTER variable binding, before planning.
    */
  case class Field(name: String, args: List[(String, Value)], selections: List[Field],
                   alias: Option[String] = None,
                   directives: List[(String, Value)] = Nil)

  /** A `fragment Name on table { ... }` document-level definition. The
    * parser records spreads as placeholder fields named `...Name`;
    * [[expand]] inlines them before planning, so the planner never sees a
    * fragment.
    */
  case class FragDef(name: String, on: String, selections: List[Field])

  /** One `$name: Type = default` declaration from the operation header
    * (the type name is parsed and discarded — values arrive already typed
    * through the variables map / JSON document).
    */
  case class VarDecl(name: String, default: Option[Value])

  // ---- tokenizer + recursive-descent parser --------------------------------
  private class Parser(input: String) {
    private var pos = 0
    private def ws(): Unit = {
      while (pos < input.length && (input(pos).isWhitespace || input(pos) == ',')) pos += 1
    }
    private def peek: Char = if (pos < input.length) input(pos) else '\u0000'
    private def expect(c: Char): Unit = {
      ws()
      if (peek != c) fail(s"expected '$c'")
      pos += 1
    }
    private def fail(msg: String) =
      throw new IllegalArgumentException(s"GraphQL parse error at $pos: $msg")

    private def ident(): String = {
      ws()
      val start = pos
      while (pos < input.length && (input(pos).isLetterOrDigit || input(pos) == '_')) pos += 1
      if (pos == start) fail("expected identifier")
      input.substring(start, pos)
    }

    private def value(): Value = {
      ws()
      peek match {
        case '"' =>
          pos += 1
          val sb = new StringBuilder
          while (pos < input.length && input(pos) != '"') { sb.append(input(pos)); pos += 1 }
          if (pos >= input.length) fail("unterminated string")
          pos += 1
          VString(sb.toString)
        case '[' =>
          pos += 1
          val items = scala.collection.mutable.ListBuffer[Value]()
          ws()
          while (peek != ']') { items += value(); ws() }
          pos += 1
          VList(items.toList)
        case '{' =>
          pos += 1
          val fields = scala.collection.mutable.ListBuffer[(String, Value)]()
          ws()
          while (peek != '}') { val k = ident(); expect(':'); fields += (k -> value()); ws() }
          pos += 1
          VObj(fields.toList)
        case '$' =>
          pos += 1
          VVar(ident())
        case c if c == 't' || c == 'f' =>
          // strict: only the exact keywords parse as booleans — any other
          // t/f-leading bare word (an unquoted enum value like `follow`)
          // must fail loudly, not silently become `false`
          val id = ident()
          if (id != "true" && id != "false")
            throw new IllegalArgumentException(
              s"unquoted value '$id' (string values need double quotes)")
          VBool(id == "true")
        case _ =>
          val start = pos
          if (peek == '-') pos += 1
          while (pos < input.length && (input(pos).isDigit || input(pos) == '.')) pos += 1
          val s = input.substring(start, pos)
          if (s.contains('.')) VFloat(s.toDouble) else VInt(s.toLong)
      }
    }

    /** `@skip(if: v)` / `@include(if: v)` — any number, after the
      * argument list (the GraphQL grammar position). Only the `if`
      * argument exists for these, so the form is fixed; unknown
      * directive NAMES are deferred to prune-time (they may legitimately
      * parse but must fail loudly before planning).
      */
    private def directives(): List[(String, Value)] = {
      val ds = scala.collection.mutable.ListBuffer[(String, Value)]()
      ws()
      while (peek == '@') {
        pos += 1
        val dn = ident()
        ws()
        expect('(')
        ws()
        val k = ident()
        if (k != "if") fail(s"directive @$dn takes only 'if', got: $k")
        expect(':')
        val v = value()
        ws()
        expect(')')
        ds += (dn -> v)
        ws()
      }
      ds.toList
    }

    /** One entry in a selection set: a field, or a `...Name` fragment
      * spread (recorded as a placeholder field named `...Name` for
      * [[expand]] to inline).
      */
    private def selection(): Field = {
      ws()
      if (peek == '.') {
        if (!input.startsWith("...", pos)) fail("expected '...'")
        pos += 3
        Field("..." + ident(), Nil, Nil)
      } else {
        val first = ident()
        ws()
        // `outName: field` alias — ':' can follow a name here only as an
        // alias separator (argument ':'s live inside parentheses)
        if (peek == ':') {
          pos += 1
          field().copy(alias = Some(first))
        } else fieldAfterName(first)
      }
    }

    private def field(): Field = fieldAfterName(ident())

    private def fieldAfterName(name: String): Field = {
      ws()
      val args =
        if (peek == '(') {
          pos += 1
          val as = scala.collection.mutable.ListBuffer[(String, Value)]()
          ws()
          while (peek != ')') { val k = ident(); expect(':'); as += (k -> value()); ws() }
          pos += 1
          as.toList
        } else Nil
      val dirs = directives()
      ws()
      val sels =
        if (peek == '{') {
          pos += 1
          val fs = scala.collection.mutable.ListBuffer[Field]()
          ws()
          while (peek != '}') { fs += selection(); ws() }
          pos += 1
          fs.toList
        } else Nil
      Field(name, args, sels, directives = dirs)
    }

    /** `fragment Name on table { ... }` (the `fragment` keyword is
      * already consumed by the document loop).
      */
    private def fragDef(): FragDef = {
      val name = ident()
      ws()
      if (!input.startsWith("on", pos)) fail("expected 'on'")
      pos += 2
      val on = ident()
      expect('{')
      val fs = scala.collection.mutable.ListBuffer[Field]()
      ws()
      while (peek != '}') { fs += selection(); ws() }
      pos += 1
      FragDef(name, on, fs.toList)
    }

    /** The parsed operation type — `query` unless a `mutation` keyword
      * led the operation (round 13: the catalog write surface).
      */
    var operationType: String = "query"

    /** Optional `query|mutation ($a: Type = default, ...)` operation
      * header.
      */
    private def varDecls(): List[VarDecl] = {
      ws()
      if (input.startsWith("mutation", pos)) {
        pos += 8
        operationType = "mutation"
      } else if (input.startsWith("query", pos)) {
        pos += 5
      } else return Nil
      ws()
      if (peek != '(') return Nil
      pos += 1
      val decls = scala.collection.mutable.ListBuffer[VarDecl]()
      ws()
      while (peek != ')') {
        expect('$')
        val name = ident()
        expect(':')
        ws()
        // type annotation, discarded (binding is untyped AST substitution):
        // named (`String`), non-null (`String!`), and list (`[String]` /
        // `[String!]!`) forms all parse — GqlFuzz round 12: list-valued
        // variables (`$segs: [String]` feeding an `in` filter) previously
        // failed at the declaration parser
        if (peek == '[') {
          pos += 1; ws(); ident(); ws()
          if (peek == '!') pos += 1
          ws(); expect(']')
        } else ident()
        ws()
        if (peek == '!') pos += 1 // non-null marker, ditto
        ws()
        val default = if (peek == '=') { pos += 1; Some(value()) } else None
        decls += VarDecl(name, default)
        ws()
      }
      pos += 1
      decls.toList
    }

    /** Document = one operation + any number of fragment definitions, in
      * any order.
      */
    def query(): (List[VarDecl], Field, Map[String, FragDef]) = {
      var op: Option[(List[VarDecl], Field)] = None
      val frags = scala.collection.mutable.Map[String, FragDef]()
      ws()
      while (pos < input.length) {
        if (input.startsWith("fragment", pos)) {
          pos += 8
          val fd = fragDef()
          if (frags.contains(fd.name)) fail(s"duplicate fragment: ${fd.name}")
          frags += (fd.name -> fd)
        } else {
          if (op.nonEmpty) fail("multiple operations")
          val decls = varDecls()
          expect('{')
          val f = field()
          expect('}')
          op = Some((decls, f))
        }
        ws()
      }
      val (decls, f) = op.getOrElse(fail("no operation in document"))
      (decls, f, frags.toMap)
    }
  }

  /** Inline every `...Name` spread (strict: unknown fragments, spread
    * cycles, and a type condition not matching the enclosing table all
    * fail loudly — GraphQL's fragment-spread-is-possible rule, enforced
    * rather than silently skipped). `table` is the relation target the
    * selection set is read from, resolved through the same fk graph the
    * planner uses, so `on` conditions are checked against real tables.
    */
  private def expand(table: String, sels: List[Field],
                     frags: Map[String, FragDef], seen: Set[String]): List[Field] =
    sels.flatMap {
      case Field(n, _, _, _, _) if n.startsWith("...") =>
        val fname = n.drop(3)
        if (seen(fname))
          throw new IllegalArgumentException(s"fragment spread cycle at: $fname")
        val fr = frags.getOrElse(fname,
          throw new IllegalArgumentException(s"unknown fragment: $fname"))
        require(fr.on == table,
          s"fragment $fname is on ${fr.on}, spread in a $table selection")
        expand(table, fr.selections, frags, seen + fname)
      case f if f.selections.nonEmpty =>
        val target = TableRegistry.relations.get((table, f.name)).map(_._1)
          .getOrElse(f.name) // root field: the table itself
        List(f.copy(selections = expand(target, f.selections, frags, seen)))
      case f => List(f)
    }

  def parse(q: String): Field = parseOperation(q)._2

  def parseOperation(q: String): (List[VarDecl], Field) =
    parseDocument(q) match { case (_, decls, f) => (decls, f) }

  /** Full document parse, operation type included (`query` | `mutation`). */
  def parseDocument(q: String): (String, List[VarDecl], Field) = {
    val p = new Parser(q)
    val (decls, f, frags) = p.query()
    // fragment type conditions check against the root FIELD name: an
    // `_agg` root's selection set holds aggregate fields, so its
    // fragments are `on orders_agg`, not `on orders` (GqlFuzz round 12 —
    // the old stripSuffix context rejected every agg-root fragment)
    val inlined = expand(f.name, f.selections, frags, Set.empty)
    (p.operationType, decls, Field(f.name, f.args, inlined))
  }

  /** Substitute every `$var` reference from `vars` (declared defaults
    * already folded in by [[resolveVars]]); unbound references fail
    * loudly — a typo can never plan as a NULL literal.
    */
  private def bindValue(v: Value, vars: Map[String, Value]): Value = v match {
    case VVar(n) => vars.getOrElse(n,
      throw new IllegalArgumentException(s"unbound GraphQL variable: $$$n"))
    case VList(xs) => VList(xs.map(bindValue(_, vars)))
    case VObj(fs) => VObj(fs.map { case (k, x) => k -> bindValue(x, vars) })
    case other => other
  }

  private def bind(f: Field, vars: Map[String, Value]): Field =
    f.copy(args = f.args.map { case (k, v) => k -> bindValue(v, vars) },
      selections = f.selections.map(bind(_, vars)),
      directives = f.directives.map { case (k, v) => k -> bindValue(v, vars) })

  /** Apply `@skip` / `@include` AFTER variable binding: a field whose
    * directives resolve to skip(true) or include(false) is removed, with
    * its subtree. Strictness as everywhere in this dialect: unknown
    * directive names and non-boolean `if` values fail loudly rather than
    * planning a half-pruned query.
    */
  private def pruneDirectives(f: Field): Option[Field] = {
    val keep = f.directives.forall {
      case ("include", VBool(b)) => b
      case ("skip", VBool(b)) => !b
      case ("include", v) =>
        throw new IllegalArgumentException(s"@include(if:) must be Boolean, got: $v")
      case ("skip", v) =>
        throw new IllegalArgumentException(s"@skip(if:) must be Boolean, got: $v")
      case (n, _) =>
        throw new IllegalArgumentException(s"unsupported directive: @$n")
    }
    if (!keep) None
    else Some(f.copy(selections = f.selections.flatMap(pruneDirectives(_))))
  }

  /** Declared defaults ∪ provided values, with strictness both ways:
    * a provided variable must be declared, and a declared variable with
    * no default must be provided.
    */
  private def resolveVars(
      decls: List[VarDecl], provided: Map[String, Value]): Map[String, Value] = {
    val declared = decls.map(_.name).toSet
    val unknown = provided.keySet -- declared
    require(unknown.isEmpty, s"undeclared GraphQL variable(s): ${unknown.mkString(", ")}")
    val defaults = decls.flatMap(d => d.default.map(d.name -> _)).toMap
    val bound = defaults ++ provided
    val missing = declared -- bound.keySet
    require(missing.isEmpty,
      s"missing GraphQL variable(s) with no default: ${missing.mkString(", ")}")
    bound
  }

  // ---- planner: AST → DataFrame -------------------------------------------
  private def litOf(v: Value): Column = v match {
    case VInt(x) => lit(x)
    case VFloat(x) => lit(x)
    case VString(x) => lit(x)
    case VBool(x) => lit(x)
    case other => throw new IllegalArgumentException(s"unsupported literal: $other")
  }

  /** Loud operand-shape checks (round 16): the like/in family previously
    * cast with asInstanceOf — a wrong-shaped operand surfaced as a bare
    * ClassCastException instead of a message naming the op and the fix.
    */
  private def strOperand(op: String, v: Value): String = v match {
    case VString(x) => x
    case other => throw new IllegalArgumentException(
      s"'$op' takes a string pattern, got: $other")
  }

  private def inItems(op: String, v: Value): Seq[Any] = v match {
    case VList(items) =>
      // Homogeneity check (round-17, round-16 ADVICE): a mixed list like
      // `in: [1, "a"]` previously leaked into Spark's isin and surfaced as
      // a downstream analysis/coercion error instead of the loud op-naming
      // rejection every other operand-shape defect gets. VInt and VFloat
      // share one numeric family (mixing [1, 2.5] is well-defined widening
      // in both engines); everything else must match exactly.
      def family(x: Value): String = x match {
        case _: VInt | _: VFloat => "numeric"
        case _: VString => "string"
        case _: VBool => "boolean"
        case o => throw new IllegalArgumentException(s"bad $op item: $o")
      }
      val fams = items.map(family).distinct
      if (fams.lengthCompare(1) > 0) throw new IllegalArgumentException(
        s"'$op' takes a homogeneous list of scalars; got mixed " +
          s"${fams.mkString("/")} items: ${items.mkString("[", ", ", "]")}")
      items.map {
        case VInt(x) => x: Any
        case VFloat(x) => x: Any
        case VString(x) => x: Any
        case VBool(x) => x: Any
        case o => throw new IllegalArgumentException(s"bad $op item: $o")
      }
    case other => throw new IllegalArgumentException(
      s"'$op' takes a list of scalars, got: $other")
  }

  private def predicate(colName: String, op: String, v: Value): Column = {
    val c = col(colName)
    op match {
      case "eq" => c === litOf(v)
      case "ne" => c =!= litOf(v)
      case "gt" => c > litOf(v)
      case "gte" => c >= litOf(v)
      case "lt" => c < litOf(v)
      case "lte" => c <= litOf(v)
      case "like" => c.like(strOperand("like", v))
      // case-insensitive LIKE (round 16): both engines share ILIKE
      case "ilike" => c.ilike(strOperand("ilike", v))
      // empty lists keep the Hasura contract a filter-building client
      // relies on: `in: []` matches NO row, `nin: []` matches EVERY row
      // (an empty multi-select must not throw — round-16 review)
      case "in" =>
        val items = inItems("in", v)
        if (items.isEmpty) lit(false) else c.isin(items: _*)
      // round 16 filter-op breadth — the first-day Hasura-style operators
      // the grammar still lacked. All three stay scan-pushable: NOT IN
      // lowers to Not(In(...)), BETWEEN to two range predicates, IS
      // [NOT] NULL to the null filters — each a parquet-pushable shape.
      case "nin" =>
        // SQL NOT IN semantics in both engines: a NULL column value never
        // qualifies (the predicate is NULL, filtered out) — mirrored by
        // the oracle's NOT IN
        val items = inItems("nin", v)
        if (items.isEmpty) lit(true) else !c.isin(items: _*)
      case "between" => v match {
        case VList(List(lo, hi)) => c >= litOf(lo) && c <= litOf(hi)
        case other => throw new IllegalArgumentException(
          s"'between' takes a two-element list [lo, hi], got: $other")
      }
      case "is_null" => v match {
        case VBool(true) => c.isNull
        case VBool(false) => c.isNotNull
        case other => throw new IllegalArgumentException(
          s"'is_null' takes a boolean, got: $other")
      }
      case other => throw new IllegalArgumentException(s"unknown op: $other")
    }
  }

  /** One aggregate selection field → its Column (count / sum_x / avg_x /
    * min_x / max_x with the §7 money discipline) — single definition shared
    * by the `_agg` ROOT (runAgg) and NESTED `relation_agg` subtrees so the
    * two surfaces cannot drift. `typeOf` resolves a source column's type in
    * whatever frame the aggregate runs over (DECIMAL sources must still
    * emit DOUBLE — the driver-hash discipline).
    */
  private def aggExpr(
      n: String,
      typeOf: String => Option[org.apache.spark.sql.types.DataType]): Column = {
    import graft.Tables.{dec, outDec, r4}
    def noDec(c: Column, src: String): Column = typeOf(src) match {
      case Some(_: org.apache.spark.sql.types.DecimalType) => outDec(c)
      case _ => c
    }
    n match {
      case "count" => count(lit(1)).as("count")
      case n if n.startsWith("sum_") => outDec(sum(dec(col(n.stripPrefix("sum_"))))).as(n)
      case n if n.startsWith("avg_") =>
        // avg4 (exact half-up), not r4(sum/count): double round()
        // half-points are engine-divergent — see Tables.avg4 (round 11)
        graft.Tables.avg4(
          s"sum(CAST(${n.stripPrefix("avg_")} AS DECIMAL(18,4)))", "count(1)").as(n)
      case n if n.startsWith("min_") =>
        val c = n.stripPrefix("min_"); noDec(min(col(c)), c).as(n)
      case n if n.startsWith("max_") =>
        val c = n.stripPrefix("max_"); noDec(max(col(c)), c).as(n)
      case n if n.startsWith("countd_") =>
        // exact distinct count (the GraphQL twin of NL's DistinctCountBy):
        // Catalyst expands it to the two-phase partial-dedup aggregate
        // (RewriteDistinctAggregates), so per-group distinct work shuffles
        // once on (group, value) — never a per-group set collected to one
        // reducer. NULLs are not counted (both engines agree).
        count_distinct(col(n.stripPrefix("countd_"))).as(n)
      case other => throw new IllegalArgumentException(s"unknown aggregate: $other")
    }
  }

  /** Depth-first relation resolution: each nested selection left-joins its
    * target (projected to the requested scalars + the fk columns its OWN
    * nested relations need) and recurses — arbitrary nesting depth, e.g.
    * orders { customer { nation { n_name } } }. A nested `relation_agg`
    * selection aggregates the related table INSIDE the subtree (e.g.
    * customer { c_mktsegment orders_agg { count sum_o_totalprice } }):
    * the target is grouped by its fk FIRST and the |parent-keys|-sized
    * aggregate left-joins back — aggregate-then-join, never a
    * join-then-aggregate row fan-out (the 100 TB shape; at scale the
    * pre-aggregation also makes the joined side orders of magnitude
    * smaller than the fact). `count` coalesces to 0 for parents with no
    * related rows (GraphQL list semantics); other aggregates stay NULL
    * (SQL semantics, mirrored by the oracle's LEFT JOIN).
    */
  private def attach(s: SparkSession, dir: String, df0: DataFrame, table: String,
                     sels: List[Field]): (DataFrame, List[(String, String)]) = {
    var df = df0
    val out = scala.collection.mutable.ListBuffer[(String, String)]()
    sels.foreach { sel =>
      if (sel.selections.isEmpty) out += (sel.name -> sel.alias.getOrElse(sel.name))
      else if (sel.name.endsWith("_agg")) {
        require(sel.alias.isEmpty,
          s"alias on aggregate relation ${sel.name} unsupported")
        val rel = sel.name.stripSuffix("_agg")
        // one-to-many direction: the parent aggregates its CHILD rows
        val (target, lk, rk) = TableRegistry.reverseRelations.getOrElse(
          (table, rel),
          throw new IllegalArgumentException(
            s"unknown one-to-many relation $table.$rel"))
        sel.selections.find(_.selections.nonEmpty).foreach { f =>
          throw new IllegalArgumentException(
            s"${sel.name}.${f.name}: aggregate selections must be scalars")
        }
        // a nested rollup is one row per parent: filter is the only
        // argument with meaning here (ordering/paging belong on the root)
        checkArgs(s"$table.${sel.name}", sel.args, Set("filter"))
        val child = applyFilters(TableRegistry.load(s, dir, target), sel.args)
        // output names honor `alias: field` (same surface as scalar
        // selections) — and MUST be used to disambiguate when two sibling
        // rollups select the same aggregate (nation { customer_agg
        // { count } supplier_agg { count } }): a duplicate emitted name
        // fails loudly here instead of planning an ambiguous column
        val outNames = sel.selections.map(f => f.alias.getOrElse(f.name))
        outNames.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
          .headOption.foreach { n =>
            throw new IllegalArgumentException(
              s"${sel.name}: duplicate aggregate output '$n' (alias one of them)")
          }
        outNames.find(df.columns.contains).foreach { n =>
          throw new IllegalArgumentException(
            s"${sel.name}: aggregate output '$n' collides with an existing " +
              "column (alias it, e.g. `customers: count`)")
        }
        val aggs = sel.selections.zip(outNames).map { case (f, n) =>
          aggExpr(f.name, src => child.schema.fields.find(_.name == src).map(_.dataType)).as(n)
        }
        require(aggs.nonEmpty, s"${sel.name}: at least one aggregate selection")
        // the rollup's key is renamed to a namespaced column before the
        // join: at depth the parent frame may itself carry a same-named
        // column (orders { customer { orders_agg } } — both sides have
        // o_custkey), which would make the join condition ambiguous
        val sub = child.groupBy(col(rk)).agg(aggs.head, aggs.tail: _*)
          .withColumnRenamed(rk, "__agg_rk")
        df = df.join(sub, col(lk) === col("__agg_rk"), "left").drop("__agg_rk")
        sel.selections.zip(outNames).collect { case (f, n) if f.name == "count" =>
          df = df.withColumn(n, coalesce(col(n), lit(0L)))
        }
        out ++= outNames.map(n => n -> n)
      }
      else if (!TableRegistry.relations.contains((table, sel.name))
               && TableRegistry.reverseRelations.contains((table, sel.name))) {
        // one-to-many subtree with per-parent ROW selection (round 14,
        // verdict item 1 — the Hasura/Prisma `customer { orders(limit: 3,
        // orderBy: "-o_totalprice") { … } }` shape): filter/orderBy/limit/
        // offset apply PER PARENT, lowered to a rank window over the
        // child's fk — rank-then-join, never join-then-sort: the child is
        // filtered and rank-limited BEFORE it meets the parent, so the
        // join input is ≤ k rows per parent (Spark plans the rn filter as
        // WindowGroupLimit both sides of the exchange — per-partition
        // top-k heaps, the win_topk_group shape; at 100 TB the fan-out
        // never materializes). Parents with no surviving children keep
        // one all-NULL child row (LEFT join — GraphQL's empty-list
        // semantics in the flattened frame).
        require(sel.alias.isEmpty,
          s"alias on relation ${sel.name} unsupported (alias scalar fields instead)")
        val (target, lk, rk) = TableRegistry.reverseRelations((table, sel.name))
        checkArgs(s"$table.${sel.name}", sel.args,
          Set("filter", "orderBy", "limit", "offset"))
        val childScalars = sel.selections.filter(_.selections.isEmpty).map(_.name)
        val childFks = sel.selections.filter(_.selections.nonEmpty).map { cr =>
          if (cr.name.endsWith("_agg"))
            TableRegistry.reverseRelations.getOrElse(
              (target, cr.name.stripSuffix("_agg")),
              throw new IllegalArgumentException(
                s"unknown one-to-many relation $target.${cr.name.stripSuffix("_agg")}"))._2
          else
            TableRegistry.relations.getOrElse((target, cr.name),
              throw new IllegalArgumentException(s"unknown relation $target.${cr.name}"))._2
        }
        // raw orderBy column names (sans `-`) must survive the pruned
        // child projection even when not selected — the rank reads them
        val orderNames = sel.args.collectFirst {
          case ("orderBy", VList(cols)) => cols.map {
            case VString(c) => c.stripPrefix("-")
            case o => throw new IllegalArgumentException(s"bad orderBy key: $o")
          }
          case ("orderBy", VString(c)) => List(c.stripPrefix("-"))
        }.getOrElse(Nil)
        val orderKeys = sel.args.collectFirst {
          case ("orderBy", VList(cols)) => cols.map {
            case VString(c) => orderKey(c)
            case o => throw new IllegalArgumentException(s"bad orderBy key: $o")
          }
          case ("orderBy", VString(c)) => List(orderKey(c))
        }.getOrElse(Nil)
        val limit = sel.args.collectFirst { case ("limit", VInt(n)) => n.toInt }
        val offset = sel.args.collectFirst { case ("offset", VInt(n)) => n.toInt }
        var sub = applyFilters(TableRegistry.load(s, dir, target), sel.args)
          .select(((rk +: childScalars) ++ childFks ++ orderNames).distinct.map(col): _*)
        if (limit.isDefined || offset.isDefined) {
          // a nondeterministic per-parent ranking would silently return
          // arbitrary rows labeled "top k" — require an explicit ordering
          // (callers should include a unique tie-break column)
          require(orderKeys.nonEmpty,
            s"$table.${sel.name}: limit/offset on a nested relation requires " +
              "orderBy (per-parent row selection must be deterministic; " +
              "include a unique tie-break column)")
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col(rk)).orderBy(orderKeys: _*)
          val rn = col("__rel_rn")
          val keep = (offset, limit) match {
            case (Some(o), Some(n)) => rn > o && rn <= o + n
            case (Some(o), None)    => rn > o
            case (None, Some(n))    => rn <= n
            case (None, None)       => lit(true) // unreachable
          }
          sub = sub.withColumn("__rel_rn", row_number().over(w))
            .filter(keep).drop("__rel_rn")
        }
        // namespace the child's fk before the join (the parent frame may
        // carry a same-named column at depth — the `__agg_rk` discipline);
        // restore the name only when the subtree's own nested relations
        // need it, failing loudly on a true two-sided collision
        val needRk = childScalars.contains(rk) || childFks.contains(rk)
        var joined = df.join(sub.withColumnRenamed(rk, "__rel_rk"),
          col(lk) === col("__rel_rk"), "left")
        if (needRk) {
          require(!df.columns.contains(rk),
            s"$table.${sel.name}: child key $rk exists on both sides " +
              "(alias the parent column or restructure the selection)")
          joined = joined.withColumnRenamed("__rel_rk", rk)
        } else joined = joined.drop("__rel_rk")
        val (dfn, colsN) = attach(s, dir, joined, target, sel.selections)
        df = dfn
        out ++= colsN
      }
      else {
        require(sel.alias.isEmpty,
          s"alias on relation ${sel.name} unsupported (alias scalar fields instead)")
        // MANY-TO-ONE (object) relations accept a `filter` argument
        // (round 15, verdict item 5 — Hasura's object-relation
        // semantics): the parent row is KEPT and the object goes NULL
        // when the filter misses. Lowered by filtering the child side
        // BELOW the left join — for a child-only predicate this is
        // equivalent to folding it into the join condition, and strictly
        // better at scale: the predicate reaches the child's scan
        // (PushedFilters) and shrinks the broadcast side instead of
        // being evaluated per joined row. orderBy/limit stay rejected
        // (an object relation has at most one row — they'd be
        // silently-meaningless arguments).
        checkArgs(s"$table.${sel.name}", sel.args, Set("filter"))
        val (target, lk, rk) = TableRegistry.relations.getOrElse(
          (table, sel.name),
          throw new IllegalArgumentException(s"unknown relation $table.${sel.name}"))
        val childScalars = sel.selections.filter(_.selections.isEmpty).map(_.name)
        // keys this subtree's OWN nested relations will join on: many-to-one
        // children need their fk; a nested `<rel>_agg` rollup joins back on
        // the PARENT-side key of the one-to-many relation
        val childFks = sel.selections.filter(_.selections.nonEmpty).map { cr =>
          if (cr.name.endsWith("_agg"))
            TableRegistry.reverseRelations.getOrElse(
              (target, cr.name.stripSuffix("_agg")),
              throw new IllegalArgumentException(
                s"unknown one-to-many relation $target.${cr.name.stripSuffix("_agg")}"))._2
          else
            TableRegistry.relations.getOrElse((target, cr.name),
              throw new IllegalArgumentException(s"unknown relation $target.${cr.name}"))._2
        }
        val sub = applyFilters(TableRegistry.load(s, dir, target), sel.args)
          .select(((rk +: childScalars) ++ childFks).distinct.map(col): _*)
        df = df.join(sub, col(lk) === col(rk), "left")
        // the join key is dropped from the frame only when nothing else
        // needs it: a nested rollup may join back on this very column
        // (orders { customer { orders_agg } } joins on c_custkey), so
        // dropping it when childFks references it would unresolve the
        // recursive attach below
        if (!childScalars.contains(rk) && !childFks.contains(rk)) df = df.drop(rk)
        val (dfn, colsN) = attach(s, dir, df, target, sel.selections)
        df = dfn
        out ++= colsN
      }
    }
    (df, out.toList)
  }

  /** True when any subtree (at any depth) resolves through the
    * one-to-many direction — the row-multiplying expansions the root
    * limit/offset guard must know about. `_agg` rollups stay one row per
    * parent and don't count.
    */
  private def hasOneToMany(table: String, sels: List[Field]): Boolean =
    sels.exists { f =>
      f.selections.nonEmpty && !f.name.endsWith("_agg") && {
        TableRegistry.relations.get((table, f.name)) match {
          case Some((target, _, _)) => hasOneToMany(target, f.selections)
          case None =>
            TableRegistry.reverseRelations.contains((table, f.name)) ||
              hasOneToMany(f.name, f.selections) // unknown rel: recurse defensively
        }
      }
    }

  /** Argument-NAME validation (round 12 — GqlFuzz's first catch): the arg
    * appliers collectFirst their own keys, so an unknown or misspelled
    * argument (`orders(having: …)`, `limt: 5`) was silently dropped and
    * the query returned unfiltered/unpaged rows labeled as the answer.
    * Real GraphQL servers validate argument names against the schema;
    * every root and the nested `_agg` surface now does the same.
    */
  private def checkArgs(ctx: String, args: List[(String, Value)],
                        allowed: Set[String]): Unit = {
    val unknown = args.map(_._1).filterNot(allowed)
    require(unknown.isEmpty,
      s"$ctx: unsupported argument(s): ${unknown.mkString(", ")}" +
        (if (allowed.isEmpty) ""
         else s" (supported: ${allowed.toSeq.sorted.mkString(", ")})"))
  }

  /** One filter OBJECT → one boolean Column (round 16, verdict item 1 —
    * Hasura's boolean combinators): sibling entries AND; `_and` takes a
    * non-empty list of filter objects and ANDs them, `_or` ORs them,
    * `_not` negates one object. Combinators nest arbitrarily and compose
    * with every operator (`{_or: [{a: {gt: 1}}, {_and: [...]}]}`). The
    * whole object lowers to ONE Column, so Catalyst sees the real boolean
    * tree: a pure OR-of-equalities over one column still reaches the scan
    * as an In/Or in PushedFilters — combinators cost no pushability.
    * Strictness as everywhere in this dialect: an empty combinator list,
    * a non-list `_and`/`_or` operand, a non-object `_not` operand, and a
    * non-object combinator ITEM all fail loudly — an empty `_or` silently
    * planning as FALSE (or TRUE) would mislabel the whole result.
    */
  private def filterCond(conds: List[(String, Value)]): Column = {
    require(conds.nonEmpty, "filter object must contain at least one condition")
    def obj(ctx: String, v: Value): Column = v match {
      case VObj(fs) => filterCond(fs)
      case other => throw new IllegalArgumentException(
        s"$ctx items must be filter objects, got: $other")
    }
    conds.map {
      case ("_and", VList(items)) =>
        require(items.nonEmpty, "_and requires a non-empty list of filter objects")
        items.map(obj("_and", _)).reduce(_ && _)
      case ("_or", VList(items)) =>
        require(items.nonEmpty, "_or requires a non-empty list of filter objects")
        items.map(obj("_or", _)).reduce(_ || _)
      case ("_not", VObj(fs)) => !filterCond(fs)
      case ("_not", other) => throw new IllegalArgumentException(
        s"_not takes a single filter object, got: $other")
      case (comb @ ("_and" | "_or"), other) => throw new IllegalArgumentException(
        s"$comb takes a list of filter objects, got: $other")
      // every (op, v) pair on a column ANDs — {gte: a, lte: b} is a
      // range predicate, same lowering as the having path
      case (colName, VObj(ops)) =>
        require(ops.nonEmpty, s"filter on '$colName' must name an operator")
        ops.map { case (op, v) => predicate(colName, op, v) }.reduce(_ && _)
      case (colName, v) => predicate(colName, "eq", v)
    }.reduce(_ && _)
  }

  /** Shared arg-application stages: both roots (plain and `_agg`) apply
    * filter → orderBy → offset → limit identically, so the two paths can't
    * drift on supported arguments. The filter object lowers through
    * [[filterCond]] (boolean combinators included) at EVERY surface a
    * filter is legal — roots, `_agg`, nested relations, object relations.
    */
  private def applyFilters(df0: DataFrame, args: List[(String, Value)]): DataFrame =
    args.collectFirst { case ("filter", v) => v } match {
      case Some(VObj(conds)) => df0.filter(filterCond(conds))
      // a non-object filter value (list, scalar — a natural slip given
      // _and/_or take lists) must reject loudly, never run unfiltered
      // mislabeled as the filtered result (review round 16)
      case Some(other) => throw new IllegalArgumentException(
        s"'filter' must be an object of column/combinator conditions, got: $other")
      case None => df0
    }

  /** `"field"` sorts ascending; `"-field"` descending (the GraphQL list
    * convention, e.g. Django/Hasura style). Applies at every depth the
    * orderBy argument is legal.
    */
  private def orderKey(c: String): org.apache.spark.sql.Column =
    if (c.startsWith("-")) col(c.drop(1)).desc else col(c)

  /** Hasura's `distinct_on` (round 15, verdict item 4): keep the FIRST
    * row of each distinct combination of the named columns, "first" as
    * defined by the orderBy. Requirements mirror Hasura's: orderBy must
    * be present and START with the distinct_on columns (so pagination
    * over the reduced rows is well-defined), and — the engine's
    * determinism discipline, same as gql_nested_topk — must continue
    * BEYOND them with at least one tie-break key, or "the first row" of
    * a group would be arbitrary and silently nondeterministic.
    *
    * Lowered to a rank window partitioned by the distinct columns and
    * filtered to rn = 1: Spark plans the filter as WindowGroupLimit on
    * both sides of the exchange (per-partition top-1 heaps, the
    * win_topk_group shape), so at scale each partition forwards one
    * candidate row per group instead of sorting whole groups.
    */
  private def applyDistinctOn(root: Field, df: DataFrame): DataFrame = {
    val distinctCols = root.args.collectFirst {
      case ("distinct_on", VList(cols)) => cols.map {
        case VString(c) => c
        case o => throw new IllegalArgumentException(s"bad distinct_on column: $o")
      }
      case ("distinct_on", VString(c)) => List(c)
    }.getOrElse(return df)
    require(distinctCols.nonEmpty, s"${root.name}: distinct_on must name a column")
    val orderCols = root.args.collectFirst {
      case ("orderBy", VList(cols)) => cols.map {
        case VString(c) => c
        case o => throw new IllegalArgumentException(s"bad orderBy key: $o")
      }
      case ("orderBy", VString(c)) => List(c)
    }.getOrElse(Nil)
    require(orderCols.map(_.stripPrefix("-")).startsWith(distinctCols),
      s"${root.name}: distinct_on requires orderBy to start with the " +
        s"distinct_on column(s) ${distinctCols.mkString(", ")} (Hasura's " +
        "rule — it makes pagination over the reduced rows well-defined)")
    val tieBreaks = orderCols.drop(distinctCols.size)
    require(tieBreaks.nonEmpty,
      s"${root.name}: distinct_on requires orderBy to continue past the " +
        "distinct_on column(s) with a tie-break key — \"the first row per " +
        "group\" must be deterministic (include a unique column)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(distinctCols.map(col): _*)
      .orderBy(tieBreaks.map(orderKey): _*)
    df.withColumn("__don_rn", row_number().over(w))
      .filter(col("__don_rn") === 1).drop("__don_rn")
  }

  private def applyOrderPage(df: DataFrame, args: List[(String, Value)]): DataFrame = {
    val ordered = args.collectFirst {
      case ("orderBy", VList(cols)) =>
        df.orderBy(cols.map { case VString(c) => orderKey(c); case o => litOf(o) }: _*)
      case ("orderBy", VString(c)) => df.orderBy(orderKey(c))
    }.getOrElse(df)
    val offset = args.collectFirst { case ("offset", VInt(n)) => n.toInt }
    val paged = offset.map(ordered.offset).getOrElse(ordered)
    args.collectFirst { case ("limit", VInt(n)) => paged.limit(n.toInt) }
      .getOrElse(paged)
  }

  /** Aggregation root: `{ <table>_agg(groupBy: ["k", ...], filter: ...,
    * orderBy: ..., offset: N, limit: N) { k count sum_<col> avg_<col>
    * min_<col> max_<col> } }` — grouped aggregation through the same
    * front-end, lowering onto groupBy/agg with the §7 money discipline
    * (sums in DECIMAL, DOUBLE out; avg = round(sum/count, 4)).
    */
  private def runAgg(s: SparkSession, dir: String, root: Field): DataFrame = {
    root.selections.find(_.alias.nonEmpty).foreach { f =>
      throw new IllegalArgumentException(
        s"alias on _agg selection ${f.name} unsupported")
    }
    val table = root.name.stripSuffix("_agg")
    checkArgs(root.name, root.args,
      Set("groupBy", "filter", "having", "orderBy", "limit", "offset"))
    val base = applyFilters(TableRegistry.load(s, dir, table), root.args)
    val rawKeys = root.args.collectFirst { case ("groupBy", VList(cols)) =>
      cols.map { case VString(c) => c
                 case o => throw new IllegalArgumentException(s"bad groupBy key: $o") }
    }.getOrElse(throw new IllegalArgumentException(s"${root.name}: groupBy required"))
    // dotted groupBy keys ("customer.c_mktsegment") group by a RELATED
    // table's column: resolve through the same fk graph gql_nested uses,
    // left-join each referenced relation once, and emit the key under the
    // dot-flattened alias (selection field names cannot contain dots).
    // Mirrors nl_group_join for the GraphQL surface.
    // alias the base and every joined relation so key/join columns are
    // resolved THROUGH the alias — unqualified col(lk)===col(rk) becomes
    // ambiguous the moment a relation shares a column name with the base
    // (or two relations share one); qualification makes resolution
    // side-deterministic regardless of schema overlap.
    var df = base.as("_base")
    var joinedRels = Set.empty[String]
    val keyCols = rawKeys.map { k =>
      if (k.contains(".")) {
        val Array(rel, c) = k.split("\\.", 2)
        val (target, lk, rk) = TableRegistry.relations.getOrElse((table, rel),
          throw new IllegalArgumentException(s"unknown relation $table.$rel"))
        if (!joinedRels(rel)) {
          df = df.join(TableRegistry.load(s, dir, target).as(rel),
            col(s"_base.$lk") === col(s"$rel.$rk"), "left")
          joinedRels += rel
        }
        col(s"$rel.$c").as(k.replace('.', '_'))
      } else col(s"_base.$k")
    }
    val keys = rawKeys.map(_.replace('.', '_'))
    // DECIMAL-typed sources must still emit DOUBLE (driver-hash discipline:
    // DOUBLE/BIGINT outputs only); identity on every other type. min/max of
    // a DECIMAL(p,s≤4) is an exact input value, so round(,4)+double matches
    // the oracle's CAST(... AS DOUBLE) bit-for-bit. Aggregate lowering is
    // the shared aggExpr, so root and nested `_agg` cannot drift.
    val aggs = root.selections.filterNot(f => keys.contains(f.name)).map(f =>
      aggExpr(f.name, src => df.schema.fields.find(_.name == src).map(_.dataType)))
    require(aggs.nonEmpty, s"${root.name}: at least one aggregate selection")
    // having filters on the EMITTED aggregate columns (post money
    // discipline — a sum_ predicate compares the rounded DOUBLE, exactly
    // what the oracle's outer WHERE sees), so it stays a plain Filter over
    // the aggregate: Catalyst keeps partial aggregation underneath.
    // Lowered through the same filterCond as every filter surface (round
    // 16): `_and`/`_or`/`_not` combinators work on aggregate outputs too,
    // and the two lowerings cannot drift.
    val having = root.args.collectFirst { case ("having", VObj(conds)) =>
      filterCond(conds)
    }
    val aggregated = df.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
    val grouped = having.fold(aggregated)(aggregated.filter)
      .select(root.selections.map(f => col(f.name)): _*)
    applyOrderPage(grouped, root.args)
  }

  /** Translate + execute one parsed query against the registry. */
  /** Introspection root (`{ __schema { tables { name n_columns } } }`) —
    * the discovery surface a real GraphQL client calls first. Lowered
    * onto the same catalog the planner resolves against (TableRegistry),
    * so introspection can never drift from what actually plans; column
    * counts come from each table's real schema (scan metadata only — no
    * data is read).
    */
  private def introspect(s: SparkSession, dir: String, root: Field): DataFrame = {
    val wanted = root.selections match {
      case List(Field("tables", Nil, sels, None, Nil)) if sels.nonEmpty =>
        sels.map { f =>
          require(f.selections.isEmpty && f.alias.isEmpty,
            s"__schema.tables.${f.name}: plain scalar fields only")
          f.name
        }
      case other => throw new IllegalArgumentException(
        s"__schema supports exactly {tables {name n_columns}}, got $other")
    }
    val unknown = wanted.toSet -- Set("name", "n_columns")
    require(unknown.isEmpty, s"unknown __schema field(s): ${unknown.mkString(", ")}")
    import s.implicits._
    // allNames: dynamically registered datasets (POST /datasets or the
    // registerDataset mutation) appear in introspection the moment they
    // are registered — discovery and planning share one catalog
    TableRegistry.allNames.toSeq.sorted
      .map(t => (t, TableRegistry.load(s, dir, t).schema.size.toLong))
      .toDF("name", "n_columns")
      .select(wanted.map(col): _*)
      .orderBy("name")
  }

  /** Catalog mutations (round 13, verdict item 7 — the reference's
    * GraphQL surface + Postgres catalog implies WRITES): exactly two
    * root fields, both routed through [[DatasetRegistry]] — the same
    * write path as POST /datasets — so a mutation-registered name
    * immediately resolves in all three dialects and persists when a
    * durable catalog is attached.
    *
    *   mutation { registerDataset(name: "x", path: "/p", format:
    *     "parquet", options: {k: "v"}) { name path format } }
    *   mutation { unregisterDataset(name: "x") { name } }
    *
    * Unknown mutation fields, missing/ill-typed arguments, disallowed
    * formats, and unregistering an absent name all fail LOUDLY — a
    * client can never believe a write happened that didn't.
    */
  private def runMutation(s: SparkSession, root: Field): DataFrame = {
    import s.implicits._
    def strArg(n: String): String =
      root.args.collectFirst { case (`n`, VString(v)) => v }.getOrElse(
        throw new IllegalArgumentException(
          s"${root.name}: required string argument '$n' missing"))
    require(root.selections.nonEmpty && root.selections.forall(f =>
        f.selections.isEmpty && f.alias.isEmpty && f.args.isEmpty),
      s"${root.name}: select plain scalar result fields")
    val wanted = root.selections.map(_.name)
    root.name match {
      case "registerDataset" =>
        checkArgs(root.name, root.args, Set("name", "path", "format", "options"))
        // result-field validation BEFORE the write: a rejected mutation
        // shape must leave no side effect behind
        val bad = wanted.toSet -- Set("name", "path", "format")
        require(bad.isEmpty,
          s"registerDataset returns {name path format}; unknown: ${bad.mkString(", ")}")
        val options: Map[String, String] =
          root.args.collectFirst { case ("options", VObj(fs)) => fs }.getOrElse(Nil)
            .map {
              case (k, VString(v)) => k -> v
              case (k, other) => throw new IllegalArgumentException(
                s"registerDataset: option '$k' must be a string, got $other")
            }.toMap
        // validateWith: the path is probed with a schema-only read BEFORE
        // any store writes — a mutation can never register an unloadable
        // dataset (round-14 ADVICE)
        val e = DatasetRegistry.register(CatalogStore.Entry(
          strArg("name"), strArg("path"), strArg("format"), options),
          validateWith = Some(s))
        Seq((e.name, e.path, e.format)).toDF("name", "path", "format")
          .select(wanted.map(col): _*)
      case "unregisterDataset" =>
        checkArgs(root.name, root.args, Set("name"))
        val bad = wanted.toSet -- Set("name")
        require(bad.isEmpty,
          s"unregisterDataset returns {name}; unknown: ${bad.mkString(", ")}")
        val n = strArg("name").toLowerCase
        require(DatasetRegistry.unregister(n), s"no such dataset: '$n'")
        Seq(n).toDF("name").select(wanted.map(col): _*)
      // saved-query twins (round 15, verdict item 1): the GraphQL face of
      // POST /queries — both route through SavedQueries, the one write
      // path, so the save-time dialect gate (NlGate for sql, read-only
      // for graphql, grammar for nl) and the duplicate-name rejection are
      // identical across surfaces.
      case "saveQuery" =>
        checkArgs(root.name, root.args, Set("name", "dialect", "text"))
        val bad = wanted.toSet -- Set("name", "dialect")
        require(bad.isEmpty,
          s"saveQuery returns {name dialect}; unknown: ${bad.mkString(", ")}")
        val e = SavedQueries.save(s, SavedQueries.Entry(
          strArg("name"), strArg("dialect"), strArg("text")))
        Seq((e.name, e.dialect)).toDF("name", "dialect")
          .select(wanted.map(col): _*)
      case "deleteQuery" =>
        checkArgs(root.name, root.args, Set("name"))
        val bad = wanted.toSet -- Set("name")
        require(bad.isEmpty,
          s"deleteQuery returns {name}; unknown: ${bad.mkString(", ")}")
        val n = strArg("name").toLowerCase
        require(SavedQueries.delete(n), s"no such saved query: '$n'")
        Seq(n).toDF("name").select(wanted.map(col): _*)
      case other =>
        throw new IllegalArgumentException(
          s"unknown mutation: '$other' (registerDataset | unregisterDataset " +
            "| saveQuery | deleteQuery)")
    }
  }

  /** The mutation's root field name, when the document IS a mutation —
    * the serving layer guards durability against the registry that root
    * actually writes (round 15: saveQuery/deleteQuery vs the dataset
    * mutations).
    */
  def mutationRoot(q: String): Option[String] = {
    val (opType, _, f) = parseDocument(q)
    if (opType == "mutation") Some(f.name) else None
  }

  def run(s: SparkSession, dir: String, q: String): DataFrame =
    runWithVariables(s, dir, q, Map.empty)

  /** Run an operation with GraphQL variables: the standard
    * `query($x: Type = default) { ... field(arg: $x) ... }` surface.
    * Values arrive as [[Value]]s (or via the JSON form below); binding is
    * a pure AST substitution, so the planner is untouched — variables
    * compose with every existing argument (filter/orderBy/limit/offset/
    * groupBy/having).
    */
  def runWithVariables(
      s: SparkSession, dir: String, q: String, vars: Map[String, Value]): DataFrame = {
    val (opType, decls, rawRoot) = parseDocument(q)
    val root = pruneDirectives(bind(rawRoot, resolveVars(decls, vars)))
      .getOrElse(throw new IllegalArgumentException(
        "the root selection was removed by @skip/@include"))
    if (opType == "mutation") return runMutation(s, root)
    require(root.selections.nonEmpty,
      "every selected field was removed by @skip/@include")
    if (root.name == "__schema") {
      checkArgs(root.name, root.args, Set.empty)
      return introspect(s, dir, root)
    }
    if (root.name.endsWith("_agg")) return runAgg(s, dir, root)
    checkArgs(root.name, root.args,
      Set("filter", "orderBy", "limit", "offset", "distinct_on"))
    // fail-loudly discipline (round 14, with the one-to-many row surface):
    // once a one-to-many subtree multiplies rows, root limit/offset would
    // page the FLATTENED rows, not parents — silently returning "the
    // first N orders-of-customers" labeled as "the first N customers"
    if (root.args.exists(a => a._1 == "limit" || a._1 == "offset"))
      require(!hasOneToMany(root.name, root.selections),
        s"${root.name}: limit/offset at the root combined with a " +
          "one-to-many subtree pages flattened rows, not parents — " +
          "filter at the root, or apply limit on the relation itself")
    val filtered = applyDistinctOn(root,
      applyFilters(TableRegistry.load(s, dir, root.name), root.args))

    // resolve selections: scalars project (applying any `alias: field`
    // output renames), relations left-join and flatten
    val (resolved, scalarCols) = attach(s, dir, filtered, root.name, root.selections)
    val df = if (scalarCols.nonEmpty)
        resolved.select(scalarCols.distinct.map { case (src, out) =>
          col(src).as(out) }: _*)
      else resolved
    applyOrderPage(df, root.args)
  }
}
