package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.types._

/** Native Catalyst dot product over two `array<float>` / `array<double>`
  * columns, with whole-stage codegen (`doGenCode`).
  *
  * The built-in route — `aggregate(zip_with(a, b, _*_), 0d, _+_)` — is an
  * interpreted higher-order function: per row it allocates a zipped array
  * and evaluates a lambda per element. For ANN scoring, the dot product IS
  * the hot loop (O(candidates × dim) multiplies), so this is the one
  * place the engine drops to a custom `Expression` (SURVEY.md §7.3 —
  * preference (b): scalar Expression before any plan surgery). Codegen
  * emits a tight primitive loop: no allocation, no virtual dispatch.
  *
  * Accumulation is double, left-to-right — bit-identical to the HOF
  * formulation it replaces on equal-length dense (no-null-element) arrays,
  * which is what embeddings are (LlmOperatorsSpec asserts equality).
  * Divergence on degenerate inputs, chosen deliberately: mismatched
  * lengths yield NULL (the HOF also yields null there, via zip_with's
  * null padding — a partial dot over min(len) would be silently wrong);
  * null ELEMENTS are skipped (treated as 0) where the HOF nulls the whole
  * sum. A null array yields null (standard null-intolerant semantics).
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // result can be null on length mismatch even for non-null inputs
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(lt, _), ArrayType(rt, _))
        if Seq(lt, rt).forall(t => t == FloatType || t == DoubleType) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"vector_dot expects array<float|double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
        s += x * y
      }
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |      $s += (double) $a.$lGet($i) * (double) $b.$rGet($i);
         |    }
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_vector_dot"
}

/** SparkSessionExtensions hook: registers `graft_vector_dot` and
  * `variant_events` so the expressions are callable from SQL and
  * `call_function`, plus the broadcast range-join rewrite (optimizer rule
  * + planner strategy, [[RangeJoin]]) and the one-task sort of an ordered
  * frame that ends in one partition (optimizer rule, [[OneTaskSort]]).
  * Wired in GraftSession via `.withExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "graft_vector_dot"),
      (children: Seq[Expression]) => VectorDot(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_centroid_argmin"),
      new ExpressionInfo(classOf[CentroidArgmin].getName, "graft_centroid_argmin"),
      (children: Seq[Expression]) => CentroidArgmin(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_binseg"),
      new ExpressionInfo(classOf[BinSeg].getName, "graft_binseg"),
      (children: Seq[Expression]) => BinSeg(children)))
    ext.injectFunction((
      FunctionIdentifier("graft_segdp"),
      new ExpressionInfo(classOf[SegDp].getName, "graft_segdp"),
      (children: Seq[Expression]) => SegDp(children)))
    ext.injectFunction((
      FunctionIdentifier("graft_pav"),
      new ExpressionInfo(classOf[Pav].getName, "graft_pav"),
      (children: Seq[Expression]) => Pav(children)))
    ext.injectFunction((
      FunctionIdentifier("graft_jaro"),
      new ExpressionInfo(classOf[JaroSimilarity].getName, "graft_jaro"),
      (children: Seq[Expression]) => JaroSimilarity(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinklerSimilarity].getName,
        "graft_jaro_winkler"),
      (children: Seq[Expression]) =>
        JaroWinklerSimilarity(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (children: Seq[Expression]) => NfcNormalize(children(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_nfd"),
      new ExpressionInfo(classOf[NfdNormalize].getName, "graft_nfd"),
      (children: Seq[Expression]) => NfdNormalize(children(0))))
    ext.injectFunction((
      FunctionIdentifier("variant_events"),
      new ExpressionInfo(classOf[VariantEventsGenerator].getName, "variant_events"),
      (children: Seq[Expression]) => VariantEventsGenerator(children)))
    ext.injectOptimizerRule(RangeJoin.rule)
    ext.injectOptimizerRule(_ => OneTaskSort)
    ext.injectPlannerStrategy(RangeJoin.strategy)
  }
}
