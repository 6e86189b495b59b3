package graft.plans

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.types._

/** MUTCHECK's defect planter: an optimizer rule that makes ONE mechanical
  * edit to the optimized plan of a key, so the oracle gate can be asked
  * whether it sees the defect. Only `graft.MutantVerify` adds it, to the
  * `experimental.extraOptimizations` of a request session, after the key's
  * DataFrame is built; no production session ever carries it.
  *
  * `site` counts, in pre-order over the plan (a node's own edits in the
  * order of its expressions), every place where `op` can edit; the rule
  * makes the site-th edit, tags the edited node, and leaves any plan that
  * already carries the tag unchanged, so the FixedPoint batch
  * "User Provided Optimizers" plants at most once per plan. A site past
  * the last plants nothing, and `planted` stays empty.
  */
final case class Mutate(op: String, site: Int) extends Rule[LogicalPlan] {
  require(Mutate.ops.contains(op), s"unknown Mutate operator '$op'")

  private val record = new ConcurrentLinkedQueue[String]()

  /** Each planted edit, as "Node: before -> after". */
  def planted: Seq[String] = record.asScala.toSeq

  def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.exists(_.getTagValue(Mutate.Tag).isDefined)) plan
    else {
      var seen = 0
      plan.transformDown { case node if seen <= site =>
        val edits = Mutate.edits(op, node)
        val i = site - seen
        seen += edits.size
        if (i >= edits.size) node
        else {
          val e = edits(i)
          val out = e.plan()
          out.setTagValue(Mutate.Tag, e.text)
          record.add(e.text)
          out
        }
      }
    }
}

object Mutate extends PredicateHelper {

  /** Each operator, with the defect classes its edit stands in for:
    *  - `cmp`: `<` ↔ `<=` or `>` ↔ `>=` on one comparison
    *  - `frame`: one literal window-frame bound one step inward, lower +1
    *    or upper −1, a ROWS frame's CURRENT ROW counting as 0
    *  - `tiebreak`: reverse the last key of a Sort or window ORDER BY with
    *    ≥ 2 keys, the deterministic face of a dropped tie-break
    *  - `nulls`: flip NULLS FIRST/LAST on one Sort key
    *  - `dedup`: drop a DISTINCT aggregate's distinct, an aggregate-free
    *    GROUP BY (a distinct), or one window PARTITION BY key
    *  - `conjunct`: drop one conjunct of a Filter or Join condition
    *  - `limit`: one LIMIT or OFFSET literal +1
    *  - `const`: one numeric literal one unit up in its last significant
    *    digit, in its own type (17 → 18, 0.35 → 0.36, 6.0E7 → 7.0E7); not
    *    a LIMIT/OFFSET literal, a frame bound, or a value that no longer fits
    *  - `join`: a LEFT SEMI join made INNER under a Project of the left
    *    output, or a LEFT ANTI join made LEFT SEMI
    */
  val ops: Map[String, Set[String]] = Map(
    "cmp" -> Set("boundary", "exclusive-between", "limit-off-by-one"),
    "frame" -> Set("frame-off-by-one"),
    "tiebreak" -> Set("wrong-tiebreak", "boundary"),
    "nulls" -> Set("null-ordering"),
    "dedup" -> Set("dropped-distinct", "dropped-dedup-key"),
    "conjunct" -> Set("dropped-join-key", "dropped-pushed-filter"),
    "limit" -> Set("limit-off-by-one", "offset-off-by-one"),
    "const" -> Set("wrong-constant", "rank-off-by-one", "window-width", "wrong-quantile",
      "wrong-offset", "wrong-partition", "wrong-threshold", "wrong-unit", "wrong-interval"),
    "join" -> Set("join-type"))

  private[graft] val Tag = TreeNodeTag[String]("graft.mutate")

  private final case class Edit(node: LogicalPlan, before: String, after: String,
                                plan: () => LogicalPlan) {
    def text: String = s"${node.nodeName}: $before -> $after"
  }

  /** Every edit `op` can make in `plan`, in site order. */
  def sites(op: String, plan: LogicalPlan): Seq[String] =
    plan.flatMap(n => edits(op, n).map(_.text))

  private def edits(op: String, node: LogicalPlan): Seq[Edit] = op match {
    case "cmp" => nth(node, flip)
    case "frame" => node match {
      case w: Window =>
        val frames = w.windowExpressions.flatMap(_.collect { case f: SpecifiedWindowFrame => f }).distinct
        for {
          f <- frames
          g <- Seq(shift(f.lower, 1, f.frameType).map(b => f.copy(lower = b)),
                   shift(f.upper, -1, f.frameType).map(b => f.copy(upper = b))).flatten
        } yield Edit(w, f.sql, g.sql, () => w.transformExpressions { case `f` => g })
      case _ => Nil
    }
    case "tiebreak" => node match {
      case s: Sort if s.order.size >= 2 =>
        Seq(Edit(s, s.order.last.sql, reverse(s.order.last).sql,
          () => s.copy(order = s.order.init :+ reverse(s.order.last))))
      case w: Window if w.orderSpec.size >= 2 =>
        Seq(Edit(w, w.orderSpec.last.sql, reverse(w.orderSpec.last).sql,
          () => respec(w, w.partitionSpec, w.orderSpec.init :+ reverse(w.orderSpec.last))))
      case _ => Nil
    }
    case "nulls" => node match {
      case s: Sort => s.order.indices.map { i =>
        val o = s.order(i)
        val f = o.copy(nullOrdering = if (o.nullOrdering == NullsFirst) NullsLast else NullsFirst)
        Edit(s, o.sql, f.sql, () => s.copy(order = s.order.updated(i, f)))
      }
      case _ => Nil
    }
    case "dedup" => node match {
      case a: Aggregate if !a.aggregateExpressions.exists(_.exists(_.isInstanceOf[AggregateExpression])) =>
        Seq(Edit(a, s"GROUP BY ${a.groupingExpressions.map(_.sql).mkString(", ")}", "Project",
          () => Project(a.aggregateExpressions, a.child)))
      case a: Aggregate => nth(a, { case e: AggregateExpression if e.isDistinct => e.copy(isDistinct = false) })
      case w: Window => w.partitionSpec.indices.map { i =>
        val kept = w.partitionSpec.patch(i, Nil, 1)
        Edit(w, s"PARTITION BY ${w.partitionSpec.map(_.sql).mkString(", ")}",
          s"PARTITION BY ${kept.map(_.sql).mkString(", ")}", () => respec(w, kept, w.orderSpec))
      }
      case _ => Nil
    }
    case "conjunct" => node match {
      // a fresh node even when no conjunct is left: the tag must not land
      // on a child other plans share
      case f: Filter => drops(f, f.condition)(c => Filter(c.getOrElse(Literal.TrueLiteral), f.child))
      case j: Join => j.condition.toSeq.flatMap(drops(j, _)(c => j.copy(condition = c)))
      case _ => Nil
    }
    case "limit" => node match {
      // the LocalLimit the optimizer pushed under either node counts the
      // same rows: bump it too, or the limit keeps its old reach
      case g @ GlobalLimit(IntegerLiteral(n), child) =>
        Seq(Edit(g, s"LIMIT $n", s"LIMIT ${n + 1}", () => GlobalLimit(Literal(n + 1), bumpLocal(child))))
      case o @ Offset(IntegerLiteral(n), child) =>
        Seq(Edit(o, s"OFFSET $n", s"OFFSET ${n + 1}", () => Offset(Literal(n + 1), bumpLocal(child))))
      case _ => Nil
    }
    case "const" => node match {
      case _: GlobalLimit | _: LocalLimit | _: Offset => Nil
      case _ => constants(node)
    }
    case "join" => node match {
      case j @ Join(l, _, LeftSemi, _, _) =>
        Seq(Edit(j, "LEFT SEMI", "INNER, projected to the left output",
          () => Project(l.output, j.copy(joinType = Inner))))
      case j @ Join(_, _, LeftAnti, _, _) =>
        Seq(Edit(j, "LEFT ANTI", "LEFT SEMI", () => j.copy(joinType = LeftSemi)))
      case _ => Nil
    }
  }

  /** One edit per numeric literal of `node` that [[bump]] can move, in
    * expression pre-order, frame bounds left out; each shows the
    * literal's parent expression before and after.
    */
  private def constants(node: LogicalPlan): Seq[Edit] = {
    def hits(e: Expression, parent: Expression): Seq[(Literal, Expression)] = e match {
      case _: SpecifiedWindowFrame => Nil
      case l: Literal => bump(l).map(_ => (l, parent)).toSeq
      case _ => e.children.flatMap(hits(_, e))
    }
    val found = node.expressions.flatMap(e => hits(e, e))
    found.indices.map { i =>
      val (l, parent) = found(i)
      val after = if (parent eq l) bump(l).get else parent.mapChildren(c => if (c eq l) bump(l).get else c)
      Edit(node, parent.sql, after.sql, () => {
        var k = -1
        def go(e: Expression): Expression = e match {
          case _: SpecifiedWindowFrame => e
          case m: Literal if bump(m).isDefined =>
            k += 1
            if (k == i) bump(m).get else m
          case _ => e.mapChildren(go)
        }
        node.mapExpressions(go)
      })
    }
  }

  /** `l` one unit up in its last significant digit, in its own type; None
    * for a NULL, a non-numeric literal, or a value that no longer fits.
    */
  private def bump(l: Literal): Option[Literal] = {
    def up(b: java.math.BigDecimal): java.math.BigDecimal = {
      val t = b.stripTrailingZeros
      t.add(java.math.BigDecimal.ONE.scaleByPowerOfTen(-t.scale))
    }
    def big(v: Any): java.math.BigDecimal = new java.math.BigDecimal(v.toString)
    try (l.value, l.dataType) match {
      case (v: Byte, ByteType) => Some(Literal(up(big(v)).byteValueExact))
      case (v: Short, ShortType) => Some(Literal(up(big(v)).shortValueExact))
      case (v: Int, IntegerType) => Some(Literal(up(big(v)).intValueExact))
      case (v: Long, LongType) => Some(Literal(up(big(v)).longValueExact))
      case (v: Float, FloatType) if java.lang.Float.isFinite(v) =>
        Some(up(big(v)).floatValue).filter(java.lang.Float.isFinite).map(Literal(_))
      case (v: Double, DoubleType) if java.lang.Double.isFinite(v) =>
        Some(up(big(v)).doubleValue).filter(java.lang.Double.isFinite).map(Literal(_))
      case (v: Decimal, t: DecimalType) =>
        Some(up(v.toJavaBigDecimal).setScale(t.scale)).filter(_.precision <= t.precision)
          .map(b => Literal(Decimal(b), t))
      case _ => None
    } catch { case _: ArithmeticException => None }
  }

  private def bumpLocal(p: LogicalPlan): LogicalPlan = p match {
    case LocalLimit(IntegerLiteral(m), c) => LocalLimit(Literal(m + 1), c)
    case _ => p
  }

  private val flip: PartialFunction[Expression, Expression] = {
    case LessThan(l, r) => LessThanOrEqual(l, r)
    case LessThanOrEqual(l, r) => LessThan(l, r)
    case GreaterThan(l, r) => GreaterThanOrEqual(l, r)
    case GreaterThanOrEqual(l, r) => GreaterThan(l, r)
  }

  /** One edit per expression of `node` that `pf` rewrites: the i-th
    * replaces only the i-th match, in expression pre-order.
    */
  private def nth(node: LogicalPlan, pf: PartialFunction[Expression, Expression]): Seq[Edit] = {
    val hits = node.expressions.flatMap(_.collect { case e if pf.isDefinedAt(e) => e })
    hits.indices.map { i =>
      Edit(node, hits(i).sql, pf(hits(i)).sql, () => {
        var k = -1
        node.transformExpressionsDown { case e if pf.isDefinedAt(e) =>
          k += 1
          if (k == i) pf(e) else e
        }
      })
    }
  }

  /** A frame bound moved `d` rows or units; CURRENT ROW of a ROWS frame
    * counts as 0.
    */
  private def shift(b: Expression, d: Int, t: FrameType): Option[Expression] = b match {
    case CurrentRow if t == RowFrame => Some(Literal(d))
    case Literal(v: Int, IntegerType) => Some(Literal(v + d))
    case Literal(v: Long, LongType) => Some(Literal(v + d))
    case _ => None
  }

  /** The full reverse of one sort key: direction and null placement. */
  private def reverse(o: SortOrder): SortOrder =
    if (o.direction == Ascending) o.copy(direction = Descending, nullOrdering = Descending.defaultNullOrdering)
    else o.copy(direction = Ascending, nullOrdering = Ascending.defaultNullOrdering)

  /** `w` over new PARTITION BY / ORDER BY keys, in the node, in each of
    * its window specs, and in the WindowGroupLimit the optimizer put under
    * it for the same spec.
    */
  private def respec(w: Window, ps: Seq[Expression], os: Seq[SortOrder]): LogicalPlan = {
    val exprs = w.windowExpressions.map(_.transform {
      case s: WindowSpecDefinition => s.copy(partitionSpec = ps, orderSpec = os)
    }.asInstanceOf[NamedExpression])
    val child = w.child match {
      case g: WindowGroupLimit if g.partitionSpec == w.partitionSpec && g.orderSpec == w.orderSpec =>
        g.copy(partitionSpec = ps, orderSpec = os)
      case c => c
    }
    w.copy(windowExpressions = exprs, partitionSpec = ps, orderSpec = os, child = child)
  }

  private def drops(node: LogicalPlan, cond: Expression)(
      rebuild: Option[Expression] => LogicalPlan): Seq[Edit] = {
    val cs = splitConjunctivePredicates(cond)
    cs.indices.map { i =>
      val kept = cs.patch(i, Nil, 1).reduceOption(And)
      Edit(node, cond.sql, kept.fold("true")(_.sql), () => rebuild(kept))
    }
  }
}
