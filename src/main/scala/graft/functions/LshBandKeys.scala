package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

/** All hyperplane-LSH band keys for one vector in ONE compact expression:
  * key(b) has bit r set iff dot(ve, plane[b*rowsPerBand+r]) >= 0, with the
  * same left-to-right double accumulation as DotProduct.
  *
  * Why an expression instead of `bands × rowsPerBand` DotProduct columns:
  * the unrolled 128-dot projection tree exceeded the whole-stage-codegen
  * size limits and forced the entire projection stage to run interpreted
  * (measured as the bench's #2 cost). Here the generated code is a fixed
  * triple loop over a single referenced plane matrix — a few hundred
  * bytes of bytecode regardless of bands/rows/dim — so the stage stays
  * inside WholeStageCodegen and the plane constants live in ONE flat
  * double[] instead of 128 array literals re-evaluated per row.
  *
  * Output: array<long> of length `bands` (posexplode → (band, bkey)).
  */
case class LshBandKeys(child: Expression, planes: Array[Double],
    bands: Int, rowsPerBand: Int, dim: Int)
    extends UnaryExpression {

  require(planes.length == bands * rowsPerBand * dim,
    s"LshBandKeys: planes length ${planes.length} != $bands*$rowsPerBand*$dim")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lsh_band_keys needs array<double> input, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = math.min(dim, x.numElements())
    val keys = new Array[Long](bands)
    var off = 0
    var b = 0
    while (b < bands) {
      var key = 0L
      var r = 0
      while (r < rowsPerBand) {
        var s = 0.0
        var c = 0
        while (c < n) { s += planes(off + c) * x.getDouble(c); c += 1 }
        // !(s < 0), not (s >= 0): Spark SQL's `dot >= 0` — the
        // formulation this expression replaced — evaluates NaN >= 0 as
        // TRUE, and Java's s >= 0 is false for NaN; the negated form
        // keeps bit-identity for NaN dots too
        if (!(s < 0)) key |= (1L << r)
        off += dim
        r += 1
      }
      keys(b) = key
      b += 1
    }
    new GenericArrayData(keys)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pl = ctx.addReferenceObj("lshPlanes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val keys = ctx.freshName("keys")
      val off = ctx.freshName("off")
      val b = ctx.freshName("b")
      val r = ctx.freshName("r")
      val s = ctx.freshName("s")
      val c = ctx.freshName("c")
      val key = ctx.freshName("key")
      s"""
         |int $n = java.lang.Math.min($dim, $a.numElements());
         |long[] $keys = new long[$bands];
         |int $off = 0;
         |for (int $b = 0; $b < $bands; $b++) {
         |  long $key = 0L;
         |  for (int $r = 0; $r < $rowsPerBand; $r++) {
         |    double $s = 0.0;
         |    for (int $c = 0; $c < $n; $c++) {
         |      $s += $pl[$off + $c] * $a.getDouble($c);
         |    }
         |    if (!($s < 0)) $key |= (1L << $r);  // NaN sets the bit, as SQL NaN >= 0 does
         |    $off += $dim;
         |  }
         |  $keys[$b] = $key;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($keys);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): LshBandKeys =
    copy(child = newChild)
}

object LshBandKeys {
  /** Column-level entry point: band keys for `ve` given the flat plane
    * matrix (bands*rowsPerBand planes × dim components, row-major). */
  def bandKeys(ve: Column, planes: Array[Double],
      bands: Int, rowsPerBand: Int, dim: Int): Column =
    bridge.column(LshBandKeys(bridge.expression(ve), planes, bands, rowsPerBand, dim))
}
