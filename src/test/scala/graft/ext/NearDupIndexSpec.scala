package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The standing near-dup index (q226/q232/q233 machinery): collapsed
  * probe exactness on dup-heavy input — the round-13 verdict's k·m
  * candidate-blowup gap — and the two-batch admission contract (a
  * batch-2 near-dup of a batch-1 admission is caught by state the
  * admission step wrote). */
class NearDupIndexSpec extends SparkSpec {
  import spark.implicits._

  // long word sequences so 3-gram shingle sets are rich enough for the
  // LSH bands to fire deterministically on near-identical texts
  private val baseA =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
  private val baseB =
    "one two three four five six seven eight nine ten " +
    "eleven twelve thirteen fourteen fifteen sixteen"
  private val baseC =
    "red orange yellow green blue indigo violet cyan magenta white " +
    "black brown silver golden copper bronze"
  private def nearOf(t: String): String = t + " coda"

  private def docs(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  test("dup-heavy collapsed probe is row-identical to the direct join") {
    // boilerplate doc with k=4 corpus copies and m=3 batch copies —
    // the shape whose direct band join carries k·m candidates
    val corpus = docs(
      (1L, baseA), (2L, baseA), (3L, baseA), (4L, baseA),
      (5L, baseB), (6L, "tiny"), (7L, null))
    val batch = docs(
      (10L, baseA), (11L, baseA), (12L, baseA),
      (13L, nearOf(baseB)), (14L, baseC), (15L, null))
    val direct = Dedup.incrementalNearDedupDirect(corpus, batch, 0.5)
      .collect().map(_.toString).sorted.toSeq
    val collapsed = Dedup.probeNearDupIndex(
        Dedup.nearDupIndexOf(corpus), batch, 0.5)
      .collect().map(_.toString).sorted.toSeq
    assert(collapsed == direct)
    // and the direct answer is the intended one: every baseA batch copy
    // reports all 4 corpus copies with witness 1; the near-dup of baseB
    // reports 1 dup with witness 5; baseC and null are novel
    val byId = Dedup.probeNearDupIndex(
        Dedup.nearDupIndexOf(corpus), batch, 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)))).toMap
    assert(byId(10L) == ((0L, 4L, Some(1L))))
    assert(byId(11L) == ((0L, 4L, Some(1L))))
    assert(byId(12L) == ((0L, 4L, Some(1L))))
    assert(byId(13L) == ((0L, 1L, Some(5L))))
    assert(byId(14L) == ((1L, 0L, None)))
    assert(byId(15L) == ((1L, 0L, None)))
  }

  test("index collapses to one row per distinct fingerprint") {
    val corpus = docs(
      (1L, baseA), (2L, baseA), (3L, baseA), (4L, baseA),
      (5L, baseB), (6L, "tiny"), (7L, null))
    val idx = Dedup.nearDupIndexOf(corpus).collect()
    // two shingleable distinct texts; "tiny" (unshingleable) and null
    // text are dropped — they can never produce a verified match
    assert(idx.length == 2)
    val byMin = idx.map(r =>
      r.getLong(2) -> r.getLong(1)).toMap // min_id -> n_docs
    assert(byMin == Map(1L -> 4L, 5L -> 1L))
  }

  test("two-batch admission: batch-2 near-dup of a batch-1 admission " +
       "is caught by the UPDATED index") {
    val corpus = docs((1L, baseA))
    val batch1 = docs(
      (10L, baseB),          // novel -> admitted
      (11L, nearOf(baseA)))  // matches corpus -> NOT admitted
    val batch2 = docs(
      (20L, nearOf(baseB)),  // near-dup of the batch-1 ADMISSION
      (21L, nearOf(baseA)),  // still matches the standing corpus
      (22L, baseC))          // novel
    val idx0 = Dedup.nearDupIndexOf(corpus)
    val probe1 = Dedup.probeNearDupIndex(idx0, batch1, 0.5)
    val admitted = batch1.join(
      probe1.filter(col("novel") === 1L).select("doc_id"),
      Seq("doc_id"), "left_semi")
    assert(admitted.collect().map(_.getLong(0)).toSeq == Seq(10L))
    val idx1 = idx0.unionByName(Dedup.nearDupIndexOf(admitted))
    val byId = Dedup.probeNearDupIndex(idx1, batch2, 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)))).toMap
    assert(byId(20L) == ((0L, 1L, Some(10L))),
      "the admission write must make doc 10 findable")
    assert(byId(21L) == ((0L, 1L, Some(1L))))
    assert(byId(22L) == ((1L, 0L, None)))
    // negative control: WITHOUT the admission, doc 20 reads novel —
    // the catch above is state, not coincidence
    val stale = Dedup.probeNearDupIndex(idx0, batch2, 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stale(20L) == 1L)
  }

  test("the index survives a parquet round-trip (the standing-store " +
       "contract)") {
    // production keeps the index MATERIALIZED between batches — the
    // probe must read an identical answer from the reloaded table
    val corpus = docs((1L, baseA), (2L, baseA), (5L, baseB))
    val batch = docs((10L, nearOf(baseA)), (11L, baseC))
    val idx = Dedup.nearDupIndexOf(corpus)
    val path = java.nio.file.Files
      .createTempDirectory("neardup_idx").toString + "/index.parquet"
    idx.write.mode("overwrite").parquet(path)
    val live = Dedup.probeNearDupIndex(idx, batch, 0.5)
      .collect().map(_.toString).sorted.toSeq
    val reloaded = Dedup.probeNearDupIndex(
        spark.read.parquet(path), batch, 0.5)
      .collect().map(_.toString).sorted.toSeq
    assert(reloaded == live)
    assert(reloaded.nonEmpty)
  }

  test("durable lifecycle: admit appends state a LATER invocation's " +
       "probe reads from disk; compaction bounds the file count") {
    // the q233 composition run as a maintained on-disk table: every
    // arrow crosses the filesystem, so invocation k+1 genuinely probes
    // state invocation k wrote
    val corpus = docs((1L, baseA))
    val batch1 = docs((10L, baseB), (11L, nearOf(baseA)))
    val batch2 = docs((20L, nearOf(baseB)), (21L, nearOf(baseA)),
                      (22L, baseC))
    val root = java.nio.file.Files
      .createTempDirectory("neardup_durable").toString
    val idxPath = s"$root/index"
    def partFiles() = new java.io.File(idxPath).listFiles()
      .count(_.getName.endsWith(".parquet"))
    // invocation 1: build + write the standing index
    Dedup.nearDupIndexWrite(corpus, idxPath)
    val files0 = partFiles()
    // invocation 2: probe batch 1 against the TABLE, admit its novel
    // docs (append)
    val p1 = Dedup.nearDupIndexAdmit(spark, idxPath, batch1, 0.5,
                                     s"$root/probe1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p1 == Map(10L -> 1L, 11L -> 0L))
    assert(partFiles() > files0, "the admission must append files")
    // invocation 3: compact — row-identical table, fewer files
    val before = spark.read.parquet(idxPath)
      .collect().map(_.toString).sorted.toSeq
    Dedup.nearDupIndexCompact(spark, idxPath)
    assert(spark.read.parquet(idxPath)
      .collect().map(_.toString).sorted.toSeq == before)
    assert(partFiles() == 1, "compaction re-sizes the accreted files")
    // invocation 4: probe batch 2 against the compacted on-disk table —
    // the batch-1 admission (doc 10) must be findable
    val p2 = Dedup.probeNearDupIndex(spark.read.parquet(idxPath),
                                     batch2, 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)))).toMap
    assert(p2(20L) == ((0L, 1L, Some(10L))),
      "batch-2 near-dup of the batch-1 admission reads the appended row")
    assert(p2(21L) == ((0L, 1L, Some(1L))))
    assert(p2(22L) == ((1L, 0L, None)))
  }

  test("concurrency contract: a held lease fails admit AND compact " +
       "fast with the actionable error; release restores service") {
    val corpus = docs((1L, baseA), (5L, baseB))
    val batch = docs((10L, baseC))
    val root = java.nio.file.Files
      .createTempDirectory("neardup_lease").toString
    val idxPath = s"$root/index"
    Dedup.nearDupIndexWrite(corpus, idxPath)
    // simulate a concurrent maintenance job holding the lease
    val lease = Dedup.indexLeasePath(idxPath)
    val fs = lease.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(lease, false)
    out.write("op=admit pid=99999 host=other-job".getBytes("UTF-8"))
    out.close()
    val eAdmit = intercept[IllegalStateException] {
      Dedup.nearDupIndexAdmit(spark, idxPath, batch, 0.5,
                              s"$root/probe")
    }
    assert(eAdmit.getMessage.contains("contention"))
    assert(eAdmit.getMessage.contains(lease.toString),
      "the error must name the lease file the operator would inspect")
    assert(eAdmit.getMessage.contains("other-job"),
      "the error must carry the holder's identity")
    assert(eAdmit.getMessage.contains("delete the lease"),
      "the error must say how to break an orphaned lease")
    val eCompact = intercept[IllegalStateException] {
      Dedup.nearDupIndexCompact(spark, idxPath)
    }
    assert(eCompact.getMessage.contains("contention"))
    // a blocked admit must not have mutated the table
    assert(spark.read.parquet(idxPath).count() == 2L)
    // read-only probes take no lease — they keep working under it
    val probed = Dedup.probeNearDupIndexDurable(spark, idxPath,
                                                batch, 0.5)
    assert(probed.count() == 1L)
    // holder finishes (lease released) -> maintenance resumes
    fs.delete(lease, false)
    val p = Dedup.nearDupIndexAdmit(spark, idxPath, batch, 0.5,
                                    s"$root/probe")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p == Map(10L -> 1L))
    // and the lease is released afterwards: the next writer proceeds
    assert(!fs.exists(lease))
    assert(Dedup.nearDupIndexCompact(spark, idxPath) >= 1)
    assert(!fs.exists(lease))
  }

  test("a probe DURING the compact swap window succeeds by reading " +
       "the parked copy") {
    val corpus = docs((1L, baseA), (5L, baseB))
    val batch = docs((10L, nearOf(baseA)), (11L, baseC))
    val root = java.nio.file.Files
      .createTempDirectory("neardup_swapwin").toString
    val idxPath = s"$root/index"
    Dedup.nearDupIndexWrite(corpus, idxPath)
    val expected = Dedup.probeNearDupIndexDurable(spark, idxPath,
        batch, 0.5)
      .collect().map(_.toString).sorted.toSeq
    // freeze the swap window's intermediate state: live copy parked at
    // __precompact, the table path momentarily absent
    val fs = new org.apache.hadoop.fs.Path(idxPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(idxPath),
                     new org.apache.hadoop.fs.Path(
                       idxPath + "__precompact")))
    val duringSwap = Dedup.probeNearDupIndexDurable(spark, idxPath,
        batch, 0.5)
      .collect().map(_.toString).sorted.toSeq
    assert(duringSwap == expected,
      "the swap-window probe must read the parked live copy")
    // the naive read (what probes did before the contract) fails here —
    // the window is real, not hypothetical
    intercept[Throwable] {
      spark.read.parquet(idxPath).count()
    }
    assert(fs.rename(new org.apache.hadoop.fs.Path(
                       idxPath + "__precompact"),
                     new org.apache.hadoop.fs.Path(idxPath)))
    // next compact's recovery path is undisturbed by the probe
    assert(Dedup.nearDupIndexCompact(spark, idxPath) >= 1)
  }

  test("probes race LIVE repeated compactions without a spurious " +
       "failure") {
    val corpus = docs((1L, baseA), (2L, baseA), (5L, baseB))
    val batch = docs((10L, nearOf(baseA)), (11L, baseC))
    val root = java.nio.file.Files
      .createTempDirectory("neardup_race").toString
    val idxPath = s"$root/index"
    Dedup.nearDupIndexWrite(corpus, idxPath)
    val expected = Dedup.probeNearDupIndexDurable(spark, idxPath,
        batch, 0.5)
      .collect().map(_.toString).sorted.toSeq
    @volatile var compactError: Option[Throwable] = None
    val compactor = new Thread(() => {
      try (1 to 4).foreach { _ =>
        Dedup.nearDupIndexCompact(spark, idxPath)
      } catch { case t: Throwable => compactError = Some(t) }
    })
    compactor.start()
    val probeResults =
      try (1 to 6).map { _ =>
        Dedup.probeNearDupIndexDurable(spark, idxPath, batch, 0.5)
          .collect().map(_.toString).sorted.toSeq
      } finally compactor.join()
    assert(compactError.isEmpty,
      s"compactor must not fail: $compactError")
    probeResults.foreach(r => assert(r == expected,
      "every racing probe reads the full, consistent table"))
  }

  test("durable gate replays the in-plan two-batch composition " +
       "row for row") {
    val durable = Dedup.nearDupIndexDurableGate(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    val inPlan = Dedup.nearDupIndexTwoBatch(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(durable == inPlan)
    assert(durable.nonEmpty)
  }

  test("durable gate releases its build persists; only probe 2's " +
       "local checkpoint stays behind") {
    def persisted() = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted()
    val out = Dedup.nearDupIndexDurableGate(spark, sfDir)
    val added = persisted() -- before
    val checkpointed = out.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    assert(added.size == 1 && checkpointed == added.toSeq,
      s"persisted RDDs added: $added; the frame reads $checkpointed")
    assert(out.count() > 0)
    spark.sparkContext.getPersistentRDDs(added.head)
      .unpersist(blocking = false)
  }

  test("the composed two-batch gate output is internally consistent") {
    val out = Dedup.nearDupIndexTwoBatch(spark, sfDir)
      .collect()
    val batches = out.map(_.getLong(1)).toSet
    assert(batches == Set(1L, 2L))
    // novel==1 rows carry n_dups 0 and a null witness; matched rows
    // the inverse
    out.foreach { r =>
      if (r.getLong(2) == 1L) { assert(r.getLong(3) == 0L && r.isNullAt(4)) }
      else assert(r.getLong(3) >= 1L && !r.isNullAt(4))
    }
  }
}
