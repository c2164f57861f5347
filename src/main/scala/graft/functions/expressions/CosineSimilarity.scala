package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Native Catalyst expression for cosine similarity over two array<float> /
 * array<double> columns, with whole-stage codegen (SURVEY.md §4 item 2:
 * "the only hot scalar kernel").
 *
 * Versus a Scala UDF this avoids per-row serialization to Scala arrays
 * (the UDF path copies every element through a converter); versus the
 * higher-order-function composition (zip_with + aggregate) it avoids
 * building an intermediate products array per row and fuses the three
 * reductions (dot, |a|², |b|²) into one loop over the unsafe array data.
 *
 * Null handling: null input array → null result; null elements read as 0
 * (embeddings are dense — the fast accessor path is the point).
 */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (Some(a), Some(b)) if a == b => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"cosine_similarity expects two array<float> or two array<double> " +
          s"arguments, got ${left.dataType.sql} and ${right.dataType.sql}")
    }

  private lazy val isFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.expressions.CosineSimilarity.cosine($a, $b, $isFloat);")

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_similarity"
}

object CosineSimilarity {
  import org.apache.spark.sql.graft.ColumnBridge

  /** The one cosine loop: dot, |a|² and |b|² fused in a single pass over
    * two float (`isFloat`) or double arrays, each element widened to double;
    * elements past the shorter array's end count toward that side's norm
    * only, and a zero norm scores 0. The interpreted path, the generated
    * code and [[graft.index.SimilarityIndex.ivfSearchIndexed]]'s scan all
    * call it, so their cosines agree bit for bit. */
  def cosine(xa: ArrayData, xb: ArrayData, isFloat: Boolean): Double = {
    val n = math.min(xa.numElements(), xb.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    if (isFloat) {
      while (i < n) {
        val va = xa.getFloat(i).toDouble; val vb = xb.getFloat(i).toDouble
        dot += va * vb; na += va * va; nb += vb * vb; i += 1
      }
      while (i < xa.numElements()) { val v = xa.getFloat(i).toDouble; na += v * v; i += 1 }
      i = n
      while (i < xb.numElements()) { val v = xb.getFloat(i).toDouble; nb += v * v; i += 1 }
    } else {
      while (i < n) {
        val va = xa.getDouble(i); val vb = xb.getDouble(i)
        dot += va * vb; na += va * va; nb += vb * vb; i += 1
      }
      while (i < xa.numElements()) { val v = xa.getDouble(i); na += v * v; i += 1 }
      i = n
      while (i < xb.numElements()) { val v = xb.getDouble(i); nb += v * v; i += 1 }
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Column-API entry point for the native expression. */
  def cosineNative(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
