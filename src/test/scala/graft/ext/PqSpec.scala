package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Product quantization: code bounds, determinism, and the training
  * guarantee — a trained 16-entry codebook per subspace must reconstruct
  * strictly better than the 1-centroid (subspace-mean) baseline. */
class PqSpec extends SparkSpec {

  test("codes are M flat columns, in [0, 16), and errors non-negative") {
    val out = Quantize.pqCodes(spark, sfDir).cache()
    assert(out.count() > 0)
    assert(out.columns.toSeq ==
      Seq("vec_id", "code_0", "code_1", "code_2", "code_3", "sq_err"))
    (0 until 4).foreach { m =>
      assert(out.filter(col(s"code_$m") < 0 || col(s"code_$m") >= 16)
        .count() == 0)
    }
    assert(out.filter(col("sq_err") < 0).count() == 0)
    out.unpersist()
  }

  test("pqTrain clamps K to the sample size and skips short vectors") {
    import spark.implicits._
    // 3 valid 64-dim vectors + 1 short + 1 null: K must clamp to 3
    val rows = Seq(
      (1L, Array.tabulate(64)(_.toFloat)),
      (2L, Array.tabulate(64)(i => (i * 2).toFloat)),
      (3L, Array.tabulate(64)(i => (i * 3).toFloat)),
      (4L, Array.tabulate(5)(_.toFloat)),
      (5L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val books = Quantize.pqTrain(rows, dim = 64)
    assert(books.length == 4)
    assert(books.forall(_.length == 3))
    // the trained books still encode the valid vectors
    val enc = Quantize.pqCodesDf(
      rows.filter(col("vec_id") <= 3), dim = 64, books)
    assert(enc.count() == 3)
  }

  test("pqTrain with no usable vectors fails fast") {
    import spark.implicits._
    val rows = Seq((1L, Array.tabulate(5)(_.toFloat)))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Quantize.pqTrain(rows, dim = 64)
    }
  }

  test("encoding is deterministic across runs") {
    Memo.clearAll(spark)
    val a = Quantize.pqCodes(spark, sfDir).collect().map(_.toString).sorted
    Memo.clearAll(spark)
    val b = Quantize.pqCodes(spark, sfDir).collect().map(_.toString).sorted
    assert(a.toSeq == b.toSeq)
  }

  test("trained codebooks beat the 1-centroid-per-subspace baseline") {
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val dim = 64
    val trained = Quantize.pqTrain(embs, dim)
    // baseline: one centroid per subspace = the subspace mean
    val meanVec = embs
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("pos")).agg(avg(col("v")).as("m"))
      .collect().sortBy(_.getInt(0)).map(_.getDouble(1))
    val sub = dim / 4
    val baseline = Array.tabulate(4)(m =>
      Array(meanVec.slice(m * sub, (m + 1) * sub)))
    def meanErr(books: Array[Array[Array[Double]]]): Double =
      Quantize.pqCodesDf(embs, dim, books)
        .agg(avg(col("sq_err"))).head.getDouble(0)
    val e16 = meanErr(trained)
    val e1 = meanErr(baseline)
    assert(e16 < e1,
      s"16-entry codebooks must beat the subspace mean: $e16 vs $e1")
  }
}
