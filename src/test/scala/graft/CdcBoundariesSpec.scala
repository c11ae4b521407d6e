package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The native rolling-hash boundary Expression must agree bit-for-bit
  * with the higher-order-function formulation it replaced (the
  * DotProductSpec discipline: the fast path is only trusted because the
  * slow declarative path co-exists as its oracle). */
class CdcBoundariesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The rolling hash of `Dedup.cdcChunks` as a polynomial over the
    * per-doc code array: the 8 chars ending at position i, base 31. */
  private val cdcPolySpark: String =
    (0 to 7).map(j => s"CAST(element_at(codes, i - ${7 - j}) AS BIGINT) * ${math.pow(31, 7 - j).toLong}")
      .mkString(" + ")

  private def hofBoundaries(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("codes",
        expr("transform(sequence(1, greatest(length(text), 1)), i -> ascii(substring(text, i, 1)))"))
      .withColumn("bpos",
        expr("filter(sequence(8, greatest(length(text) - 1, 8)), " +
          "i -> i < length(text) AND (" + cdcPolySpark + ") % 16 = 0)"))
      .select(col("id"), col("bpos"))

  test("matches the HOF polynomial filter on corpus text, short strings, and empty") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    val extra = Seq((100001L, ""), (100002L, "short"), (100003L, "exactly8"),
      (100004L, "exactly9!"), (100005L, "a" * 64)).toDF("id", "text")
    val all = docs.unionByName(extra)
    val fast = all.select(col("id"),
      graft.functions.CdcBoundaries.boundaries(col("text")).as("bpos"))
    val slow = hofBoundaries(all)
    val joined = fast.as("f").join(slow.as("s"), "id")
      .filter(!(col("f.bpos") === col("s.bpos")))
    assert(joined.count() == 0, s"boundary mismatch rows: ${joined.take(3).mkString}")
    // sanity: corpus rows actually produce boundaries (non-vacuous parity)
    assert(fast.filter(size(col("bpos")) > 0).count() > 400)
  }

  test("interpreted eval path agrees with codegen (direct call)") {
    val cases = Seq("", "abcdefgh", "abcdefghi", "the quick brown fox " * 10)
    for (t <- cases) {
      val viaScan = Seq(Tuple2(1L, t)).toDF("id", "text")
        .select(graft.functions.CdcBoundaries.boundaries(col("text")))
        .collect()(0).getSeq[Int](0)
      val direct = graft.functions.CdcBoundaries.boundariesOf(t.getBytes("UTF-8")).toSeq
      assert(viaScan == direct, s"eval/codegen drift on '$t'")
    }
  }
}
