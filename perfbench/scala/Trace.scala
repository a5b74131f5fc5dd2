package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writing for the run records. */
object Json {
  def str(s: String): String = "\"" + Option(s).getOrElse("").flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double if d.isNaN || d.isInfinite => str(d.toString)
    case d: Double => d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => value(xs.toSeq)
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(mutable.LinkedHashMap(kv: _*))

  def writeLines(f: File, lines: Iterable[String]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}

/** Wall clock in epoch microseconds, advanced by the monotonic clock so
  * intervals inside the JVM never go backwards. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** Operations and (when tracing) spans of one run, kept in memory and
  * written out when the run ends.
  *
  * An operation is one unit the workload measures: a statement, a
  * pipeline step or a micro-batch. Spans mark calls into the program's
  * layers; they nest on the one client thread. Spark jobs are tied to
  * the operation that ran them through the `perfbench.op` local
  * property. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  case class Op(id: Long, kind: String, name: String, start: Long,
                end: Long, ok: Boolean, err: String)
  case class Span(id: Long, parent: Long, op: Long, name: String,
                  start: Long, end: Long)

  val ops = mutable.ArrayBuffer[Op]()
  val spans = mutable.ArrayBuffer[Span]()
  private val ids = new AtomicLong(0)
  private var stack: List[Long] = Nil
  private var currentOp = -1L

  /** Run `body` as one operation; an exception marks it failed. */
  def op[T](kind: String, name: String)(body: => T): Option[T] = {
    val id = ids.incrementAndGet()
    currentOp = id
    if (traced) spark.sparkContext.setLocalProperty("perfbench.op", id.toString)
    val t0 = Clock.nowUs
    val res =
      try Right(body)
      catch { case e: Throwable => Left(e) }
    val t1 = Clock.nowUs
    if (traced) spark.sparkContext.setLocalProperty("perfbench.op", null)
    currentOp = -1L
    stack = Nil
    res match {
      case Right(v) =>
        ops += Op(id, kind, name, t0, t1, ok = true, null); Some(v)
      case Left(e) =>
        System.err.println(s"[perfbench] $kind $name failed: $e")
        ops += Op(id, kind, name, t0, t1, ok = false,
          s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
        None
    }
  }

  /** A layer span inside the current operation (no-op untraced). */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(-1L)
      stack = id :: stack
      val t0 = Clock.nowUs
      try body
      finally {
        spans += Span(id, parent, currentOp, name, t0, Clock.nowUs)
        stack = stack.tail
      }
    }

  def write(dir: File): Unit = {
    Json.writeLines(new File(dir, "ops.jsonl"), ops.map(o => Json.obj(
      "op" -> o.id, "kind" -> o.kind, "name" -> o.name, "start" -> o.start,
      "end" -> o.end, "ok" -> o.ok, "err" -> o.err)))
    Json.writeLines(new File(dir, "spans.jsonl"), spans.map(s => Json.obj(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start" -> s.start, "end" -> s.end)))
  }
}

/** Spark's public listener APIs, registered only for traced runs: jobs,
  * stages and task metrics (SparkListener), Catalyst phase times and
  * final plans (QueryExecutionListener), micro-batch progress
  * (StreamingQueryListener). Everything is attributed later by the
  * operation id each job carries. */
final class Listeners(spark: SparkSession) {
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val qes = new ConcurrentLinkedQueue[String]()
  private val progress = new ConcurrentLinkedQueue[String]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, String)]()
  private val started = new AtomicLong(0)
  private val ended = new AtomicLong(0)
  private val lastEvent = new AtomicLong(System.nanoTime())

  private case class TaskAgg(var tasks: Long = 0, var runMs: Long = 0,
      var cpuNs: Long = 0, var gcMs: Long = 0, var shuffleWrite: Long = 0,
      var shuffleRead: Long = 0, var spill: Long = 0, var inBytes: Long = 0,
      var inRecords: Long = 0, var stages: Long = 0)
  private val perOp = mutable.HashMap[String, TaskAgg]()

  private def touch(): Unit = lastEvent.set(System.nanoTime())

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty("perfbench.op"))).getOrElse("")
      val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .getOrElse("")
      val key = if (op.nonEmpty) op else if (batch.nonEmpty) "b" + batch else ""
      e.stageIds.foreach(s => stageOp.put(s, key))
      jobStart.put(e.jobId, (e.time, op, batch))
      started.incrementAndGet(); touch()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (t0, op, batch) = jobStart.remove(e.jobId)
      jobs.add(Json.obj("job" -> e.jobId, "op" -> op, "batch" -> batch,
        "start" -> t0 * 1000L, "end" -> e.time * 1000L,
        "ok" -> (e.jobResult == JobSucceeded)))
      ended.incrementAndGet(); touch()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val key = stageOp.getOrDefault(e.stageInfo.stageId, "")
      perOp.synchronized { perOp.getOrElseUpdate(key, TaskAgg()).stages += 1 }
      touch()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val key = stageOp.getOrDefault(e.stageId, "")
      if (m != null) perOp.synchronized {
        val a = perOp.getOrElseUpdate(key, TaskAgg())
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecords += m.inputMetrics.recordsRead
      }
      touch()
    }
  }

  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => finalPlan(a.executedPlan)
    case other => other
  }

  /** Plan nodes of the final executed plan, AQE stages unwrapped. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = finalPlan(p) match {
    case q: QueryStageExec => q +: nodes(q.plan)
    case n => n +: (n.children ++ n.subqueries).flatMap(nodes)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = record(funcName, qe)
    private def record(funcName: String, qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ph(n: String) = phases.get(n).map(p =>
        Seq(p.startTimeMs * 1000L, p.endTimeMs * 1000L)).orNull
      val ns = scala.util.Try(nodes(qe.executedPlan)).getOrElse(Nil)
      val interpreted = ns.map(_.expressions.map(_.collect {
        case e: CodegenFallback => e
        case h: HigherOrderFunction => h
      }.size).sum).sum
      val exchanges = ns.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      }
      qes.add(Json.obj("func" -> funcName,
        "analysis" -> ph("analysis"), "optimization" -> ph("optimization"),
        "planning" -> ph("planning"), "interpreted" -> interpreted,
        "exchanges" -> exchanges))
      touch()
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      progress.add(e.progress.json.replace("\n", " ")); touch()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** A streaming query runs in a clone of the session, which copies the
    * query execution listeners present when it starts; set-up may start
    * one, so this listener is registered before set-up and its records
    * are later limited to the timed phase. */
  def registerQueryListener(): Unit = spark.listenerManager.register(qeListener)

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every started job has ended and the listener bus has
    * been quiet for a moment, so the records are complete. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline &&
           (started.get != ended.get ||
            System.nanoTime() - lastEvent.get < 300L * 1000 * 1000))
      Thread.sleep(50)
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def write(dir: File): Unit = {
    Json.writeLines(new File(dir, "jobs.jsonl"), jobs.asScala)
    Json.writeLines(new File(dir, "qe.jsonl"), qes.asScala)
    Json.writeLines(new File(dir, "progress_listener.jsonl"), progress.asScala)
    Json.writeLines(new File(dir, "tasks.jsonl"), perOp.synchronized {
      perOp.toSeq.map { case (k, a) => Json.obj("op" -> k,
        "tasks" -> a.tasks, "stages" -> a.stages, "run_ms" -> a.runMs,
        "cpu_ms" -> a.cpuNs / 1e6, "gc_ms" -> a.gcMs,
        "shuffle_write" -> a.shuffleWrite, "shuffle_read" -> a.shuffleRead,
        "spill" -> a.spill, "input_bytes" -> a.inBytes,
        "input_records" -> a.inRecords)
      }
    })
  }
}
