package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions.{lit, raise_error}

/** Operators that fail part-way release every block they persisted:
  * an exception leaves the persisted-RDD set as it found it. */
class FailurePathSpec extends SparkSpec {
  import spark.implicits._

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def path(n: Long) = (1L until n).map(i => (i, i + 1))
    .toDF("a_id", "b_id")

  test("clusterLabels that does not converge strands no labels generation") {
    val before = persistedIds
    intercept[IllegalStateException] {
      Dedup.clusterLabels(path(10), maxIter = 1)
    }
    assert(persistedIds == before)
  }

  test("alternatingStarLabels that does not converge strands no RDD") {
    val before = persistedIds
    intercept[IllegalStateException] {
      ConnectedComponents.alternatingStarLabels(path(200), maxRounds = 1)
    }
    assert(persistedIds == before)
  }

  test("a materialized build whose count fails leaves nothing cached") {
    Memo.clearAll(spark)
    intercept[Exception] {
      graft.ops.Partitioning.materialized(spark, 4)(
        spark.range(3).select(raise_error(lit("boom"))))
    }
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
