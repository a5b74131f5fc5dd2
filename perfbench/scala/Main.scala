package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.{Engine, SparkEntry, Tables}
import graft.ext.Dedup
import graft.sqlfront.{Ast, Lexer, Parser}
import graft.streaming.Streams

/** One benchmark run in a fresh JVM: set up, measure one workload for the
  * given seconds, write the run records under `<run>/out`, and leave the
  * output checks to the Python side.
  *
  *   perfbench.Main workload=<name> run=<dir> seconds=<s> trace=<0|1> cores=<n>
  *
  * Inputs are generated before the JVM starts (`<run>/data`, `<run>/warm`
  * and workload files); this class only reads them. */
object Main {
  def main(args: Array[String]): Unit = {
    val conf = args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val run = new File(conf("run"))
    val out = new File(run, "out")
    out.mkdirs()
    val cores = conf("cores")
    val marks = mutable.LinkedHashMap[String, Any](
      "jvm_start_us" -> java.lang.management.ManagementFactory
        .getRuntimeMXBean.getStartTime * 1000L)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", new File(run, "warehouse").getPath)
      .config("spark.local.dir", new File(run, "local").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    marks("spark_ready_us") = Clock.nowUs
    val traced = conf("trace") == "1"
    val rec = new Recorder(spark, traced)
    val listeners = if (traced) Some(new Listeners(spark)) else None
    val w = conf("workload") match {
      case "sql_session" => new SqlSession(spark, run, rec)
      case "llm_batch" => new LlmBatch(spark, run, rec, conf("gates").split(",").toSeq)
      case "ingest_stream" =>
        new IngestStream(spark, run, conf("rate").toDouble, conf("prime").toInt,
                         conf("probes").toInt)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    listeners.foreach(_.registerQueryListener())
    w.setup()
    marks("timed_start_us") = Clock.nowUs
    listeners.foreach(_.register())
    w.measure(conf("seconds").toDouble)
    listeners.foreach(_.drain())
    marks("timed_end_us") = Clock.nowUs
    listeners.foreach(_.unregister())
    marks("rss_peak_kb") = vmHwmKb()
    marks("heap_live_bytes") = heapLiveBytes()
    w.storagePeak.foreach(b => marks("storage_peak_bytes") = b)
    marks("persisted_at_end") = spark.sparkContext.getPersistentRDDs.size
    w.extra.foreach { case (k, v) => marks(k) = v }
    rec.write(out)
    listeners.foreach(_.write(out))
    w.dumpForChecks(out)
    Json.writeLines(new File(out, "marks.json"), Seq(Json.value(marks)))
    spark.stop()
  }

  /** Heap in use after full collections, once the Spark context cleaner
    * has had a moment to drop what the last collection freed. */
  def heapLiveBytes(): Long = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed
    }.min
  }

  /** The process's peak resident set (VmHWM) in kB. */
  def vmHwmKb(): Long = lines(new File("/proc/self/status"))
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def lines(f: File): Seq[String] = {
    val s = Source.fromFile(f, "UTF-8")
    try s.getLines().filter(_.nonEmpty).toVector finally s.close()
  }

  def rowJson(r: Row): String = Json.value(r.toSeq.map {
    case d: java.math.BigDecimal => d.toPlainString
    case other => other
  })
}

trait Workload {
  def setup(): Unit
  def measure(seconds: Double): Unit
  def dumpForChecks(out: File): Unit
  /** Storage-memory high-water of cached blocks, sampled after each
    * operation in traced runs. */
  var storagePeak: Option[Long] = None
  val extra = mutable.LinkedHashMap[String, Any]()

  protected def sampleStorage(spark: SparkSession, rec: Recorder): Unit =
    if (rec.traced) {
      val b = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
      storagePeak = Some(math.max(storagePeak.getOrElse(0L), b))
    }
}

/** A single REPL client sending llamadb-dialect statements one at a time
  * through `Engine` (closed loop). `<run>/statements.txt` holds the
  * seed-drawn stream, one statement per line, in episodes that each start
  * with a CREATE TABLE; `<run>/warm_small.txt` and `<run>/warm_data.txt`
  * are warm-up episodes for the small and the measured tables. */
final class SqlSession(spark: SparkSession, run: File, rec: Recorder)
    extends Workload {
  private val eng = new Engine(spark)
  private val results = mutable.ArrayBuffer[String]()
  private var tokens = 0L
  private var executed = 0

  /** Lex, parse and run one statement, collecting a SELECT's rows. The
    * result's JSON rendering is returned as a thunk, so building it stays
    * out of the statement's timing. */
  private def exec(e: Engine, sql: String): () => String = {
    val toks = rec.span("sqlfront.lex")(Lexer.tokenize(sql))
    tokens += toks.size
    val stmt = rec.span("sqlfront.parse")(new Parser(toks).statement())
    stmt match {
      case _: Ast.SelectStmt =>
        val df = rec.span("exec.compile")(e.runStatement(stmt)) match {
          case e.Rows(d) => d
          case other => throw new IllegalStateException(s"SELECT gave $other")
        }
        val rows = rec.span("action")(df.collect())
        () => rows.map(Main.rowJson).mkString("{\"rows\":[", ",", "]}")
      case _: Ast.Explain =>
        rec.span("exec.compile")(e.runStatement(stmt)) match {
          case e.Explained(text) => () => Json.obj("explain" -> text)
          case other => throw new IllegalStateException(s"EXPLAIN gave $other")
        }
      case _ =>
        val res = rec.span("catalog.write")(e.runStatement(stmt))
        () => res match {
          case e.Inserted(n) => Json.obj("count" -> n)
          case e.Updated(n) => Json.obj("count" -> n)
          case e.Deleted(n) => Json.obj("count" -> n)
          case e.Created => Json.obj("created" -> true)
          case other => Json.obj("other" -> other.toString)
        }
    }
  }

  /** One warm-up episode through an engine of its own, so its table
    * never meets the measured session's. */
  private def warmUp(dir: String, statements: String): Unit = {
    val e = new Engine(spark)
    e.registerTestTables(new File(run, dir).getPath)
    Main.lines(new File(run, statements)).foreach(s => exec(e, s))
  }

  def setup(): Unit = {
    Tables.assertSchemas(spark, new File(run, "data").getPath)
    // JIT warm-up on the small tables, then one episode on the measured
    // tables: the first statements over sf0.1 still pay one-time costs
    // the small tables never reach
    warmUp("warm", "warm_small.txt")
    warmUp("data", "warm_data.txt")
    eng.registerTestTables(new File(run, "data").getPath)
    tokens = 0
  }

  def measure(seconds: Double): Unit = {
    val stmts = Main.lines(new File(run, "statements.txt"))
    val deadline = Clock.nowUs + (seconds * 1e6).toLong
    // run whole episodes (each starts with its CREATE TABLE), so every
    // run sends the same statement mix
    while (executed < stmts.size && (Clock.nowUs < deadline ||
           !stmts(executed).startsWith("CREATE TABLE "))) {
      val sql = stmts(executed)
      val kind = sql.takeWhile(_ != ' ').toLowerCase match {
        case "select" => "read"
        case "explain" => "explain"
        case _ => "write"
      }
      val res = rec.op(kind, executed.toString)(exec(eng, sql))
      results += res.fold(Json.obj("error" -> true))(_.apply())
      executed += 1
      sampleStorage(spark, rec)
    }
    extra("statements_executed") = executed
    extra("tokens") = tokens
  }

  def dumpForChecks(out: File): Unit = {
    Json.writeLines(new File(out, "results.jsonl"), results)
    // post-DML state of every table the executed prefix created
    val created = Main.lines(new File(run, "statements.txt")).take(executed)
      .filter(_.startsWith("CREATE TABLE "))
      .map(_.stripPrefix("CREATE TABLE ").takeWhile(_ != ' '))
    Json.writeLines(new File(out, "final_state.jsonl"), created.map { t =>
      val rows = scala.util.Try(eng.sql(s"SELECT * FROM $t").collect())
        .map(_.map(Main.rowJson).mkString("[", ",", "]")).getOrElse("null")
      s"""{"table":${Json.str(t)},"rows":$rows}"""
    })
  }
}

/** The LLM-pipeline gates as one id-ordered batch pass over a corpus
  * directory no earlier pass has read, so the operator memos, keyed by
  * directory, start cold. A step is the gate's entry call plus writing
  * its result as parquet; the written results are what the checker
  * compares. */
final class LlmBatch(spark: SparkSession, run: File, rec: Recorder,
                     gates: Seq[String]) extends Workload {
  private val results = new File(run, "out/results")

  private def write(df: DataFrame, dst: File): Unit =
    df.write.mode("overwrite").parquet(dst.getPath)

  def setup(): Unit = {
    val warm = new File(run, "warm").getPath
    Tables.assertSchemas(spark, new File(run, "data").getPath)
    gates.foreach { g =>
      val t0 = Clock.nowUs
      write(SparkEntry.queries(g)(spark, warm), new File(run, s"tmp/warm_$g"))
      System.err.println(s"[perfbench] warm-up $g ${(Clock.nowUs - t0) / 1000} ms")
    }
  }

  def measure(seconds: Double): Unit = {
    val dir = new File(run, "data").getPath
    gates.foreach { g =>
      rec.op("step", g) {
        val df = rec.span("ext.build")(SparkEntry.queries(g)(spark, dir))
        rec.span("ext.action")(write(df, new File(results, g)))
      }
      sampleStorage(spark, rec)
    }
  }

  def dumpForChecks(out: File): Unit =
    Json.writeLines(new File(out, "oracle_sql.json"), Seq(Json.value(
      gates.map(g => g -> SparkEntry.oracleSql(g)).toMap)))
}

/** Open-loop ingest: a generator thread moves pre-written shards into the
  * landing directory on a fixed wall-clock schedule while the streaming
  * near-dup query consumes them. Set-up starts the query and warms it
  * with the first `prime` shards, one micro-batch each, so the measured
  * phase starts on a warm JVM and a running query. After the open loop,
  * the last `probes` shards, larger ones, measure capacity: each lands
  * by one atomic move, so it is consumed by one micro-batch. */
final class IngestStream(spark: SparkSession, run: File, rate: Double,
                         prime: Int, probes: Int)
    extends Workload {
  private val StateStore =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private val schedule = mutable.ArrayBuffer[String]()
  private var progress: Seq[String] = Nil
  private val shards = new File(run, "shards").listFiles().sortBy(_.getName).toSeq
  private val dst = new File(run, "landing/documents.parquet")
  private var query: StreamingQuery = _

  private def land(f: File): File = {
    val target = new File(dst, f.getName)
    Files.move(f.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
    target
  }

  def setup(): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", StateStore)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    Tables.assertSchemas(spark, new File(run, "data").getPath)
    query = Streams.minhashDedupStream(
        Streams.readDocumentsStream(spark, new File(run, "landing").getPath))
      .toDF().writeStream.format("memory").queryName("perfbench_hits")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", new File(run, "ckpt").getPath)
      .trigger(Trigger.ProcessingTime(0L)).start()
    shards.take(prime).foreach { f => land(f); query.processAllAvailable() }
    extra("prime_batches") = query.recentProgress.length
  }

  def measure(seconds: Double): Unit = {
    val q = query
    val (timed, probed) =
      shards.drop(prime).splitAt(shards.length - prime - probes)
    val t0 = Clock.nowUs + 200000L
    val gen = new Thread(() => timed.zipWithIndex.foreach { case (f, i) =>
      val due = t0 + (i * 1e6 / rate).toLong
      val wait = due - Clock.nowUs
      if (wait > 0) Thread.sleep(wait / 1000, ((wait % 1000) * 1000).toInt)
      val target = land(f)
      schedule += Json.obj("shard" -> i, "file" -> target.getName,
        "due" -> due, "moved" -> Clock.nowUs)
    }, "perfbench-generator")
    gen.start()
    gen.join()
    // drain what arrived, but never wait past a fixed grace period
    val watchdog = new Thread(() =>
      try { Thread.sleep(math.max(30000L, (seconds * 1000).toLong)); q.stop() }
      catch { case _: InterruptedException => () })
    watchdog.setDaemon(true)
    watchdog.start()
    try {
      q.processAllAvailable()
      extra("open_loop_batches") = q.recentProgress.length
      probed.foreach { f => land(f); q.processAllAvailable() }
    } catch { case e: Throwable => System.err.println(s"[perfbench] stream: $e") }
    watchdog.interrupt()
    progress = q.recentProgress.toSeq.map(_.json.replace("\n", " "))
    q.stop()
  }

  def dumpForChecks(out: File): Unit = {
    Json.writeLines(new File(out, "schedule.jsonl"), schedule)
    Json.writeLines(new File(out, "progress.jsonl"), progress)
    spark.table("perfbench_hits").coalesce(1).write.mode("overwrite")
      .parquet(new File(out, "results/hits").getPath)
    Json.writeLines(new File(out, "oracle_sql.json"), Seq(Json.value(
      Map("hits" -> Dedup.streamingLshDedupOracleSql()))))
  }
}
