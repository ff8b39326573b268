package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: dot product of two numeric arrays,
  * accumulated in double, sequential order (identical results to
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` after per-element
  * double widening — and to the DuckDB oracle's list fold).
  *
  * Why an Expression rather than the higher-order-function compose or
  * a Scala UDF: doGenCode emits a tight primitive loop inside
  * whole-stage codegen — no lambda dispatch, no intermediate array
  * allocation per row, no serialization. On the 64-dim embedding
  * corpus this is the hot inner loop of every similarity join.
  *
  * Semantics notes (documented contract, matches the fixture data):
  * result uses min(len(a), len(b)) elements; null array → null; null
  * elements are treated as 0 (fixture arrays are non-null).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
          if Seq(lt, rt).forall(t => t == FloatType || t == DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"dot_product needs two float/double arrays, got " +
            s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }
  }

  @inline private def get(a: ArrayData, t: DataType, i: Int): Double =
    t match {
      case FloatType => a.getFloat(i).toDouble
      case _         => a.getDouble(i)
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (lt, rt) = (elemType(left), elemType(right))
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) s += get(a, lt, i) * get(b, rt, i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      def getter(v: String, t: DataType, i: String) = t match {
        case FloatType => s"(double) $v.getFloat($i)"
        case _         => s"$v.getDouble($i)"
      }
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += ${getter(a, elemType(left), i)} * ${getter(b, elemType(right), i)};
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

/** SparkSessionExtensions entry point: injects graft's native
  * functions at session build time. Enable with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * (done in graft.Sessions) — the idiomatic registration path for a
  * library shipping Catalyst expressions; [[GraftFunctions.register]]
  * remains as an imperative fallback for externally-built sessions.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    // asymmetric-hashing ANN primitives (signature build + score)
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_lsh_proj"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[PlaneProjections].getName, "graft_lsh_proj"),
      (exprs: Seq[Expression]) => PlaneLsh.buildProj(exprs)))
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("graft_lsh_asym"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[LshAsymScore].getName, "graft_lsh_asym"),
      (exprs: Seq[Expression]) => PlaneLsh.buildAsym(exprs)))
    // byte-scan tokenizers (graft.functions.TextFns)
    Seq(true, false).foreach { alpha =>
      e.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(Tokenize.nameOf(alpha)),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[Tokenize].getName, Tokenize.nameOf(alpha)),
        Tokenize.build(alpha) _))
    }
    // fuzzy-match predicate optimization (length guard + banded DP)
    e.injectOptimizerRule(_ => graft.plans.LevenshteinPrefilter)
    // whole-operator extension: sequence packing (logical node +
    // strategy + physical exec — graft.plans.PackSequences)
    e.injectPlannerStrategy(_ => graft.plans.PackSequencesStrategy)
  }
}

/** Registration + Column-level access for graft's native expressions. */
object GraftFunctions {
  import org.apache.spark.sql.{Column, SparkSession}

  /** Idempotent per-session registration (FunctionRegistry is
    * session-scoped). Call before using [[dot]] on a new session.
    */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_lsh_proj", PlaneLsh.buildProj, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_lsh_asym", PlaneLsh.buildAsym, "built-in")
    Seq(true, false).foreach(alpha =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        Tokenize.nameOf(alpha), Tokenize.build(alpha), "built-in"))
  }

  /** Column API for the native dot product (requires [[register]]). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_dot", a, b)

  /** Column API for [[PlaneProjections]]: nBits md5-derived hyperplane
    * projections of a numeric array — mode "signs" packs sign bits
    * into ceil(nBits/64) longs (the corpus-side ANN signature), mode
    * "proj" keeps raw projections (the query side).
    */
  def lshProj(a: Column, nBits: Int, dim: Int, family: String, mode: String): Column = {
    import org.apache.spark.sql.functions.{call_function, lit}
    call_function("graft_lsh_proj", a, lit(nBits), lit(dim), lit(family), lit(mode))
  }

  /** Column API for [[LshAsymScore]]: asymmetric-distance score of a
    * packed sign signature against full-precision query projections.
    */
  def lshAsym(signWords: Column, proj: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_lsh_asym", signWords, proj)
}
