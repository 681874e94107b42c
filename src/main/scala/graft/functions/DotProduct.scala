package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.{Column, GraftBridge, SparkSessionExtensions}

/** Native codegen'd dot product over two double arrays.
  *
  * The higher-order-function formulation (`aggregate(zip_with(a, b, _*_),
  * 0.0, _+_)`) evaluates interpreted lambdas per element — fine per row,
  * painful on the N*Q similarity hot path where millions of 64-dim dots
  * dominate. This expression stays inside whole-stage codegen: one tight
  * primitive loop, no per-element boxing.
  *
  * Numerics are IDENTICAL to the HOF version (sequential left-to-right
  * sum starting at 0.0), so oracle-checked scores do not change.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects two array<double> inputs, got $l and $r")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.sequential(a.asInstanceOf[ArrayData].toDoubleArray(),
      b.asInstanceOf[ArrayData].toDoubleArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** THE dot kernel: sequential left-to-right sum from 0.0 over the
    * common prefix of `x` and `y`. The interpreted expression path and
    * the in-task MMR fold ([[graft.llm.Similarity.diversifyMmr]]) both
    * call it; the generated Java loop is the same sum, term for term.
    */
  def sequential(x: Array[Double], y: Array[Double]): Double = {
    val n = math.min(x.length, y.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x(i) * y(i); i += 1 }
    acc
  }

  /** Column-level entry point (no session required). */
  def dot(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}

/** Session extension registering `graft_dot` for SQL use:
  * `spark.sql("SELECT graft_dot(a, b)")`. Install with
  * `SparkSession.builder().withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_centroid_argmax"),
      new ExpressionInfo(classOf[CentroidArgmax].getName, "graft_centroid_argmax"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"graft_centroid_argmax(vector, centroids) takes 2 arguments, got ${children.size}")
        CentroidArgmax(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_hyperplane_bucket"),
      new ExpressionInfo(classOf[HyperplaneBucket].getName, "graft_hyperplane_bucket"),
      (children: Seq[Expression]) => {
        require(children.size == 2 || children.size == 3,
          s"graft_hyperplane_bucket(vector, nPlanes[, firstPlane]) takes 2-3 arguments, got ${children.size}")
        def intLit(e: Expression, name: String): Int = {
          require(e.foldable,
            s"graft_hyperplane_bucket $name must be an integer literal (it shapes the plan)")
          e.eval(null) match {
            case i: Int => i
            // a Long literal that doesn't fit in Int must fail, not
            // silently truncate (4294967298L would otherwise become 2)
            case l: Long if l.isValidInt => l.toInt
            case other => throw new IllegalArgumentException(
              s"graft_hyperplane_bucket $name must be an Int-range integer literal, got $other")
          }
        }
        HyperplaneBucket(children.head, intLit(children(1), "nPlanes"),
          if (children.size == 3) intLit(children(2), "firstPlane") else 0)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          s"graft_nfc(text) takes 1 argument, got ${children.size}")
        NfcNormalize(children.head)
      }))
  }
}
