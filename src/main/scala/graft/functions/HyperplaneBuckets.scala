package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types._

/** All random-hyperplane LSH bucket ids of a vector in ONE fused pass:
  * returns array<int> of length `tables`, where element t's bits are
  * sign(plane[t][b] · vec).
  *
  * Why a custom Catalyst Expression (guide preference (b)): the
  * composable form materializes tables × bits separate
  * [[ArrayDotProduct]] projections, each with its own 64-element
  * literal — 128 expressions whose generated code dominated the
  * dedup_embedding_lsh runtime (~3 s of codegen/plan overhead at sf0.1
  * for microseconds of arithmetic). Here the plane matrix rides along
  * as ONE flat `double[]` reference object and the generated code is a
  * single three-level primitive loop — no per-plane literals, no
  * allocation besides the output array.
  *
  * Accepts array<float> (the embeddings column) or array<double>.
  * Vectors shorter than `dim` dot over their prefix (matches
  * [[ArrayDotProduct]] semantics); ties (dot == 0) hash to bit 0.
  */
case class HyperplaneBuckets(child: Expression,
    planes: Array[Array[Array[Double]]]) extends UnaryExpression {

  private val tables = planes.length
  private val bits = planes.headOption.map(_.length).getOrElse(0)
  private val dim = planes.headOption.flatMap(_.headOption).map(_.length)
    .getOrElse(0)

  /** Flat [t][b][i] → t*bits*dim + b*dim + i, for the codegen path. */
  @transient private lazy val flat: Array[Double] = {
    val a = new Array[Double](tables * bits * dim)
    var p = 0
    for (t <- 0 until tables; b <- 0 until bits; i <- 0 until dim) {
      a(p) = planes(t)(b)(i); p += 1
    }
    a
  }

  /** Plan text: the plane layout and a content hash of the planes, not
    * the array's JVM identity — so two builds of one plan print alike. */
  override def stringArgs: Iterator[Any] = Iterator(child,
    s"tables=$tables", s"bits=$bits", s"dim=$dim",
    f"planes=${java.util.Arrays.hashCode(flat)}%08x")

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_buckets needs array<float> or array<double>, got $t")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  // null ELEMENTS null the whole bucket array — see ArrayDotProduct
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), dim)
    var ni = 0
    while (ni < n) { if (v.isNullAt(ni)) return null; ni += 1 }
    val out = new Array[Int](tables)
    val isFloat = elemIsFloat
    var t = 0
    while (t < tables) {
      var bucket = 0
      var b = 0
      while (b < bits) {
        val row = planes(t)(b)
        var acc = 0d
        var i = 0
        while (i < n) {
          acc += row(i) * (if (isFloat) v.getFloat(i).toDouble
                           else v.getDouble(i))
          i += 1
        }
        if (acc > 0d) bucket |= (1 << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val planesRef = ctx.addReferenceObj("planes", flat, "double[]")
      val get = if (elemIsFloat) "getFloat" else "getDouble"
      val t = ctx.freshName("t")
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val base = ctx.freshName("base")
      val bucket = ctx.freshName("bucket")
      val out = ctx.freshName("out")
      val hasNull = ctx.freshName("hasNull")
      val ni = ctx.freshName("ni")
      s"""
         |int $n = $v.numElements() < $dim ? $v.numElements() : $dim;
         |boolean $hasNull = false;
         |for (int $ni = 0; $ni < $n; $ni++) {
         |  if ($v.isNullAt($ni)) { $hasNull = true; break; }
         |}
         |int[] $out = new int[$tables];
         |if (!$hasNull)
         |for (int $t = 0; $t < $tables; $t++) {
         |  int $bucket = 0;
         |  for (int $b = 0; $b < $bits; $b++) {
         |    int $base = ($t * $bits + $b) * $dim;
         |    double $acc = 0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $acc += $planesRef[$base + $i] * (double) $v.$get($i);
         |    }
         |    if ($acc > 0) $bucket |= (1 << $b);
         |  }
         |  $out[$t] = $bucket;
         |}
         |if ($hasNull) { ${ev.isNull} = true; } else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneBuckets = copy(child = newChild)
}

object HyperplaneBuckets {
  /** Column form: all LSH bucket ids for `vec` under `planes`. */
  def buckets(vec: Column, planes: Array[Array[Array[Double]]]): Column =
    GraftSqlBridge.column(
      HyperplaneBuckets(GraftSqlBridge.expression(vec), planes))
}
