package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain,
  Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.SparkSessionExtensions

/** Custom Catalyst `Expression` exemplar (SURVEY.md §4.3): a codegen'd
  * vector dot product. The higher-order-function formulation
  * (`aggregate(zip_with(...))`) is interpreted per element — three virtual
  * calls per multiply; this compiles to a tight Java loop inside
  * whole-stage codegen, the §2.11 hot path (64 flops × millions of pairs).
  *
  * Numerics: strict left-to-right accumulation — bit-identical to the HOF
  * fold it replaces and to the DuckDB oracle's index-loop mirror. NULL
  * semantics likewise mirror the HOF form: a NULL element or a length
  * mismatch yields NULL (zip_with pads the shorter side with NULL and the
  * aggregate fold propagates it) — the first cut read raw slot bits for
  * NULL elements and silently truncated to the shorter length, returning
  * a plausible wrong number on malformed vectors.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"
  // may yield NULL for null elements / mismatched lengths even when both
  // array inputs are non-null
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects array<double> args, got (${left.dataType}, ${right.dataType})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i); i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The SQL functions a graft session offers beyond Spark's own, each
  * declared once as (name, doc, builder).
  */
object GraftFunctions {

  private def fn(name: String, cls: Class[_], usage: String)(
      build: PartialFunction[Seq[Expression], Expression]) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (args: Seq[Expression]) => build.applyOrElse(args, (a: Seq[Expression]) =>
        throw new IllegalArgumentException(s"$name expects $usage, got ${a.size} args")))

  private[plans] val all = Seq(
    fn("vec_dot", classOf[DotProduct], "2 args") { case Seq(a, b) => DotProduct(a, b) },
    // Spark ships Bloom-filter build/probe as INTERNAL Catalyst expressions
    // (used by its own InjectRuntimeFilter rule) without SQL registration;
    // exposing them makes the runtime-filter primitive a first-class user
    // function (agg_bloom_filter). Arguments follow the internal contract:
    // the build/probe child must be `xxhash64(key)`.
    fn("bloom_filter_agg", classOf[BloomFilterAggregate], "(xxhash64(col), nItems, nBits)") {
      case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
    },
    fn("might_contain", classOf[BloomFilterMightContain], "2 args") {
      case Seq(f, v) => BloomFilterMightContain(f, v)
    })

  /** Registers the functions on a session built without [[GraftExtensions]]. */
  def register(s: SparkSession): Unit =
    all.foreach { case (id, info, builder) =>
      s.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}

/** The session extensions every `graft.GraftSession` installs, so every
  * session of its context, request sessions included, resolves
  * [[GraftFunctions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(e.injectFunction)
}
