package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.DotProduct

/** The codegen dot product: value equality with the higher-order-function
  * fold it replaced (bit-for-bit), float/double input handling, nulls. */
class DotProductSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val df = Seq(
    (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
    (Array(0.1f, -0.2f, 0.3f), Array(-0.4f, 0.5f, 0.25f)))
    .toDF("a", "b")

  test("matches the aggregate(zip_with(...)) fold bit-for-bit") {
    val vd = (c: org.apache.spark.sql.Column) => transform(c, _.cast("double"))
    val fold = aggregate(zip_with(vd(col("a")), vd(col("b")), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val rows = df.select(DotProduct.dot(vd(col("a")), vd(col("b"))).as("native"),
      fold.as("fold")).as[(Double, Double)].collect()
    rows.foreach { case (n, f) => assert(n == f) } // exact, not approx
  }

  test("raw float arrays give the same doubles as cast-to-double arrays") {
    val vd = (c: org.apache.spark.sql.Column) => transform(c, _.cast("double"))
    val rows = df.select(
      DotProduct.dot(col("a"), col("b")).as("ff"),
      DotProduct.dot(vd(col("a")), vd(col("b"))).as("dd"))
      .as[(Double, Double)].collect()
    rows.foreach { case (ff, dd) => assert(ff == dd) }
  }

  test("null array → null result") {
    val withNull = Seq((Some(Array(1.0, 2.0)), Option.empty[Array[Double]]))
      .toDF("a", "b")
    val r = withNull.select(DotProduct.dot(col("a"), col("b"))).collect()
    assert(r.head.isNullAt(0))
  }
}
