package graft.analytics

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The components loops' convergence signal: NULL means zero only for an
  * empty label table; over a non-empty one it fails loudly.
  */
class LabelSumSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def labels(rows: Row*) = spark.createDataFrame(
    spark.sparkContext.parallelize(rows, 2),
    StructType(Seq(StructField("u", LongType), StructField("component", LongType))))

  test("an empty label table sums to 0") {
    assert(DedupQueries.labelSum(labels()) == java.math.BigDecimal.ZERO)
  }

  test("an all-NULL non-empty label table throws") {
    val e = intercept[IllegalStateException] {
      DedupQueries.labelSum(labels(Row(1L, null), Row(2L, null)))
    }
    assert(e.getMessage.contains("non-empty"))
  }
}
