package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionDescription}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Cosine similarity of two FLOAT-array columns as a native Catalyst
  * expression (SURVEY.md §7.3; the task brief's preference order:
  * native Expression > UDF > anything else).
  *
  * Why custom: the built-in formulation is three higher-order folds
  * (`aggregate(zip_with(...))` per dot product), and Spark evaluates
  * array HOF lambdas INTERPRETED — per element it allocates boxed
  * Doubles and walks an expression tree, for every (query × corpus)
  * row of the brute-force scorer. This expression is one tight
  * primitive loop over the two unsafe arrays, no allocation, and the
  * call stays inside the whole-stage-codegen'd stage.
  *
  * Numeric parity contract (the DuckDB oracle depends on it): each
  * accumulator (dot, |a|², |b|²) sums in ascending index order in
  * double precision — the exact addition sequence of both the previous
  * fold formulation and [[graft.ops.Dedup.cosineOf]], so results are
  * bit-identical, not just close. Element nulls are not tolerated
  * (embeddings are dense); length mismatch scores the common prefix.
  *
  * A zero-norm side has no similarity: its cosine is 0/0 = NaN, which
  * Spark orders above every number (`NaN >= tau` holds, and NaN sorts
  * first under DESC), so the expression returns NULL there instead.
  * Filters drop it and rankings skip it; this is the one place the
  * engine decides it (the executor loops skip the NaN of
  * [[graft.ops.Dedup.cosineOf]]).
  */
@ExpressionDescription(
  usage = "_FUNC_(a, b) - cosine similarity of two float arrays.")
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects two ARRAY<FLOAT>, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val s = CosineSim.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (s.isNaN) null else s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.CosineSim$$.MODULE$$.cosine($a, $b);
         |${ev.isNull} = Double.isNaN(${ev.value});""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {

  /** Single pass, three primitive accumulators, ascending index order;
    * NaN for a zero-norm side.
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Column-API lift. */
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
