package graft.tools

import org.apache.spark.sql.SparkSession

/** Diagnostic main: time the bounded streaming gate runs phase by phase
  * (start→first batch→termination) and dump each batch's durationMs so
  * the bounded-run overhead is attributable, not guessed.
  *
  * args: [sfDir] [gate1,gate2,...] [statePartitions] [reps] [providers]
  * Gates: hourly sessionize funnel enrich dedup deduphourly.
  * statePartitions may be a single value or a `:`-separated cycle
  * (e.g. `2:4:8`) applied per rep WITHIN one JVM — host-contention
  * windows hit whole JVMs, so cross-JVM partition comparisons confound;
  * in-JVM alternation isolates the knob. providers is the same kind of
  * cycle over state-store backends (`rocksdb:hdfs`), for the
  * RocksDB-vs-HDFSBacked floor comparison.
  * Each `sbt Test/runMain` invocation is one cold JVM — the bench
  * methodology — with the same sf0.001 machinery warm-up Bench does. */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val gates = if (args.length > 1) args(1).split(",").toSeq
                else Seq("hourly", "sessionize", "funnel", "enrich")
    val partsCycle: Seq[String] =
      args.drop(2).headOption.filter(_.nonEmpty)
        .map(_.split(":").toSeq).getOrElse(Seq.empty)
    val reps = args.drop(3).headOption.flatMap(_.toIntOption).getOrElse(2)
    val providerCycle: Seq[String] =
      args.drop(4).headOption.filter(_.nonEmpty)
        .map(_.split(":").toSeq).getOrElse(Seq.empty)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // warm the streaming machinery only (state store, file source, JIT)
    // on the smallest dataset — same as Bench
    graft.streaming.Streams.hourlyAggAvailableNow(
      spark, "/root/testdata/sf0.001").count()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        println(s"[probe] batch ${e.progress.batchId} " +
          s"durations=${e.progress.durationMs} rows=${e.progress.numInputRows}")
    }
    spark.streams.addListener(listener)
    for (name <- gates; rep <- 1 to reps) {
      val parts =
        if (partsCycle.isEmpty) "default"
        else {
          val p = partsCycle((rep - 1) % partsCycle.size)
          sys.props("graft.stream.statePartitions") = p
          p
        }
      val provider =
        if (providerCycle.isEmpty) "default"
        else {
          val p = providerCycle((rep - 1) % providerCycle.size)
          sys.props("graft.stream.stateStore") = p
          p
        }
      val t0 = System.nanoTime()
      val n = name match {
        case "hourly" =>
          graft.streaming.Streams.hourlyAggAvailableNow(spark, sfDir).count()
        case "sessionize" =>
          graft.streaming.Streams.sessionCountsAvailableNow(spark, sfDir).count()
        case "funnel" =>
          graft.streaming.Streams.funnelJoinAvailableNow(spark, sfDir).count()
        case "dedup" =>
          graft.streaming.Streams.dedupAvailableNow(spark, sfDir).count()
        case "deduphourly" =>
          graft.streaming.Streams.dedupHourlyAvailableNow(spark, sfDir).count()
        case _ =>
          graft.streaming.Streams.enrichedSegmentAvailableNow(spark, sfDir).count()
      }
      println(f"[probe] $name rep$rep parts=$parts provider=$provider total ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    spark.stop()
  }
}
