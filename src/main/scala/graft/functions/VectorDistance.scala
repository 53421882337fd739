package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}

/** `vector_distance(a, b, metric)` — native Catalyst expression for the
  * reference's `ML.DISTANCE` (readers/games.py:131-135, SURVEY §2.8
  * F14). Metrics, matching BigQuery semantics:
  *
  *   - 'COSINE'      -> 1 - dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b)))
  *   - 'EUCLIDEAN'   -> sqrt(sum((a_i - b_i)^2))
  *   - 'EUCLIDEAN_SQ'-> sum((a_i - b_i)^2) — the k-means/shell form:
  *     no sqrt, bit-identical to XSql.dist2's left fold, so swapping
  *     the interpreted lambda fold for this codegen loop cannot move
  *     an oracle-gated comparison by even an ulp
  *   - 'DOT_PRODUCT' -> -dot(a,b)   (negative dot product, as in BQ)
  *
  * Implements `doGenCode`, so the distance loop participates in
  * whole-stage codegen: a brute-force kNN scan stays in one generated
  * loop with no boxing and no lambda-array interpreter overhead (the
  * `aggregate`/`zip_with` formulation allocates per row). Accumulation
  * is a plain left fold i = 0..n-1, bit-identical to the fold the
  * DuckDB oracle runs.
  *
  * Null in, null out. Arrays must have equal length (else error, like
  * BQ). Metric must be a foldable string.
  */
case class VectorDistance(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = DoubleType

  override def prettyName: String = "vector_distance"

  private lazy val metric: String =
    third.eval().toString.toUpperCase(java.util.Locale.ROOT)

  override def checkInputDataTypes(): TypeCheckResult = {
    def okArr(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (!okArr(first.dataType) || !okArr(second.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"vector_distance expects array<double> inputs, got " +
          s"${first.dataType.simpleString} / ${second.dataType.simpleString}")
    else if (third.dataType != StringType)
      TypeCheckResult.TypeCheckFailure("metric must be a string")
    else if (!third.foldable)
      TypeCheckResult.TypeCheckFailure("metric must be a constant string")
    else if (!Seq("COSINE", "COSINE_SIM", "EUCLIDEAN", "EUCLIDEAN_SQ",
        "DOT_PRODUCT").contains(metric))
      TypeCheckResult.TypeCheckFailure(
        s"metric must be COSINE, COSINE_SIM, EUCLIDEAN, EUCLIDEAN_SQ " +
          s"or DOT_PRODUCT, got $metric")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def nullSafeEval(a: Any, b: Any, m: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    require(y.numElements() == n,
      s"vector_distance: length mismatch ${n} vs ${y.numElements()}")
    var dot = 0.0
    var n2a = 0.0
    var n2b = 0.0
    var se = 0.0
    var i = 0
    metric match {
      case "COSINE" =>
        while (i < n) {
          val xi = x.getDouble(i); val yi = y.getDouble(i)
          dot += xi * yi; n2a += xi * xi; n2b += yi * yi
          i += 1
        }
        1.0 - dot / (math.sqrt(n2a) * math.sqrt(n2b))
      // cosine SIMILARITY — XSql.cosineFromNorms's exact shape
      // (dot / (sqrt(n2a) * sqrt(n2b)), each accumulator its own
      // left fold), so a similarity threshold compares bit-identically
      // against the oracle without the 1-(1-s) double-rounding detour
      case "COSINE_SIM" =>
        while (i < n) {
          val xi = x.getDouble(i); val yi = y.getDouble(i)
          dot += xi * yi; n2a += xi * xi; n2b += yi * yi
          i += 1
        }
        dot / (math.sqrt(n2a) * math.sqrt(n2b))
      case "EUCLIDEAN" =>
        while (i < n) {
          val d = x.getDouble(i) - y.getDouble(i); se += d * d; i += 1
        }
        math.sqrt(se)
      case "EUCLIDEAN_SQ" =>
        while (i < n) {
          val d = x.getDouble(i) - y.getDouble(i); se += d * d; i += 1
        }
        se
      case "DOT_PRODUCT" =>
        while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
        -dot
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, _) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val n2a = ctx.freshName("n2a")
      val n2b = ctx.freshName("n2b")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val body = metric match {
        case "COSINE" =>
          s"""double $dot = 0.0; double $n2a = 0.0; double $n2b = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  double $xi = $a.getDouble($i);
             |  double $yi = $b.getDouble($i);
             |  $dot += $xi * $yi; $n2a += $xi * $xi; $n2b += $yi * $yi;
             |}
             |${ev.value} = 1.0 - $dot / (java.lang.Math.sqrt($n2a) * java.lang.Math.sqrt($n2b));
             |""".stripMargin
        case "COSINE_SIM" =>
          s"""double $dot = 0.0; double $n2a = 0.0; double $n2b = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  double $xi = $a.getDouble($i);
             |  double $yi = $b.getDouble($i);
             |  $dot += $xi * $yi; $n2a += $xi * $xi; $n2b += $yi * $yi;
             |}
             |${ev.value} = $dot / (java.lang.Math.sqrt($n2a) * java.lang.Math.sqrt($n2b));
             |""".stripMargin
        case "EUCLIDEAN" =>
          s"""double $dot = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  double $xi = $a.getDouble($i) - $b.getDouble($i);
             |  $dot += $xi * $xi;
             |}
             |${ev.value} = java.lang.Math.sqrt($dot);
             |""".stripMargin
        case "EUCLIDEAN_SQ" =>
          s"""double $dot = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  double $xi = $a.getDouble($i) - $b.getDouble($i);
             |  $dot += $xi * $xi;
             |}
             |${ev.value} = $dot;
             |""".stripMargin
        case "DOT_PRODUCT" =>
          s"""double $dot = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  $dot += $a.getDouble($i) * $b.getDouble($i);
             |}
             |${ev.value} = -$dot;
             |""".stripMargin
      }
      s"""int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException("vector_distance: length mismatch");
         |}
         |$body
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
