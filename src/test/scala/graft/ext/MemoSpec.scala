package graft.ext

import graft.SparkSpec
import graft.streaming.Streams
import org.apache.spark.storage.StorageLevel

/** The one operator memo: nested builds, and the one cold sweep. */
class MemoSpec extends SparkSpec {

  /** Every memo family, by name, with a call that fills it. */
  private def families: Seq[(String, () => Unit)] = Seq(
    "dedup.dupFraction" -> (() => Dedup.dupFractionDir(spark, sfDir, Nil)),
    "dedup.minhashPairs" -> (() => Dedup.minhashLshCached(spark, sfDir)),
    "dedup.jaccardPairs" -> (() => Dedup.jaccardPairsCached(spark, sfDir)),
    "dedup.containmentPairs" ->
      (() => Dedup.containmentPairsCached(spark, sfDir)),
    "dedup.containmentEstimate" ->
      (() => Dedup.containmentEstimateCached(spark, sfDir)),
    "dedup.clusterLabels" -> (() => Dedup.clusterLabelsCached(spark, sfDir)),
    "winnow.selection" -> (() => Winnow.matches(spark, sfDir)),
    "quantize.codebooks" -> (() => Quantize.pqCodes(spark, sfDir)),
    "selection.docWeights" -> (() => Selection.dsirSelect(spark, sfDir)),
    "selection.featCounts" -> (() => Selection.dsirSelect(spark, sfDir)),
    "similarity.centroids" -> (() => Similarity.ivfTopK(spark, sfDir)),
    "similarity.ivfPqIndex" -> (() => Similarity.ivfPqTopK(spark, sfDir)),
    "text.bpeMerges" -> (() => TextAnalysis.bpeMerges(spark, sfDir)),
    "text.lmScore" -> (() => TextAnalysis.bigramLmScore(spark, sfDir)),
    "pipeline.survivors" -> (() => Pipeline.survivingDocs(spark, sfDir)))

  private def keysOf(name: String): Seq[Any] =
    Memo.Family[Any, Any](name).keys(spark)

  test("a nested build fills both its own entry and the one it reads") {
    Memo.clearAll(spark)
    val labels = Dedup.clusterLabelsCached(spark, sfDir, 0.8)
    assert(Dedup.labelsMemo.keys(spark) == Seq((sfDir, 0.8)))
    assert(Dedup.exactPairsMemo.keys(spark) == Seq((sfDir, 0.8)))
    // later callers of either entry point get the stored frames
    assert(Dedup.clusterLabelsCached(spark, sfDir, 0.8) eq labels)
    assert(Dedup.jaccardPairsCached(spark, sfDir, 0.8) eq
      Dedup.exactPairsMemo.peek(spark, (sfDir, 0.8)).get)
  }

  test("Memo.clearAll drops every entry, persist and sink; calls rebuild") {
    Memo.clearAll(spark)
    families.foreach { case (_, fill) => fill() }
    families.foreach { case (name, _) =>
      assert(keysOf(name).nonEmpty, s"$name not filled by its call")
    }
    val old = Dedup.jaccardPairsCached(spark, sfDir)
    Streams.dedupAvailableNow(spark, sfDir).count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    assert(!spark.sharedState.cacheManager.isEmpty)

    Memo.clearAll(spark)
    families.foreach { case (name, _) =>
      assert(keysOf(name).isEmpty, s"$name survived the cold sweep")
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_stream_")))

    val rebuilt = Dedup.jaccardPairsCached(spark, sfDir)
    assert(!(rebuilt eq old), "the cold sweep must not hand back the old frame")
    assert(rebuilt.storageLevel != StorageLevel.NONE,
      "the rebuilt frame must be persisted again")
    Memo.clearAll(spark)
  }
}
