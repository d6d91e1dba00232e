package pipebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{LayeredStore, TableStore}

/** One traced call into a layer. Times are epoch nanoseconds so they
  * line up with the millisecond timestamps on Spark's listener events. */
final case class Span(id: Int, name: String, parent: Int, thread: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Off unless a traced run switches it on;
  * when off, [[span]] only runs its body. */
object Trace {
  @volatile var on = false
  var runId = ""

  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + epochOffsetNs

  private val ids = new AtomicInteger(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  /** The innermost open span of the driver's main thread: the parent of
    * spans opened on other threads (executor tasks, stream runners). */
  @volatile private var mainOpen: List[Int] = Nil
  private val mainThread = Thread.currentThread()

  /** Times `body` as a span; the layer is the name's first dotted part. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val mine = stack.get()
      val parent = mine.headOption.orElse(mainOpen.headOption).getOrElse(0)
      val isMain = Thread.currentThread() eq mainThread
      stack.set(id :: mine)
      if (isMain) mainOpen = id :: mainOpen
      val start = nowNs
      try body
      finally {
        spans.add(Span(id, name, parent, Thread.currentThread().getName, start, nowNs))
        stack.set(mine)
        if (isMain) mainOpen = mainOpen.tail
      }
    }
}

/** Everything Spark's public listeners report, kept raw until the run ends. */
object SparkEvents {
  final case class Job(id: Int, timeMs: Long)
  final case class Task(stageId: Int, launchMs: Long, runMs: Long, durationMs: Long,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long)
  final case class Action(funcName: String, startMs: Long, failed: Boolean,
                          phasesMs: Map[String, (Long, Long)])
  final case class Batch(timeMs: Long, inputRows: Long, addBatchMs: Long,
                         commitMs: Long, stateRows: Long)

  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val actions = new ConcurrentLinkedQueue[Action]()
  val batches = new ConcurrentLinkedQueue[Batch]()

  object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Job(e.jobId, e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.stageId, e.taskInfo.launchTime,
        m.executorRunTime, e.taskInfo.duration,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  object Actions extends QueryExecutionListener {
    private def record(funcName: String, qe: QueryExecution, durationNs: Long, failed: Boolean): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
      val start = if (phases.nonEmpty) phases.values.map(_._1).min
                  else System.currentTimeMillis() - durationNs / 1000000L
      actions.add(Action(funcName, start, failed, phases))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs, failed = false)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, 0L, failed = true)
  }

  object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      batches.add(Batch(java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
        d.getOrElse("addBatch", 0L), d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L),
        p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(Jobs)
    spark.listenerManager.register(Actions)
    spark.streams.addListener(Streams)
  }
}

/** The store layer as `Pipeline` sees it, with a span and counters
  * around each call. Delegates every call to a parquet [[TableStore]]. */
final class TracedStore(val inner: TableStore) extends LayeredStore {
  override def spark: SparkSession = inner.spark
  val counts: mutable.Map[String, Long] = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private def bump(k: String, v: Long = 1): Unit = if (Trace.on) synchronized(counts(k) += v)

  private def dir(layer: String, table: String) = new java.io.File(s"${inner.root}/$layer/$table")
  private def files(layer: String, table: String): (Long, Long) = {
    val fs = Option(dir(layer, table).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (fs.length.toLong, fs.map(_.length).sum)
  }

  private def write(kind: String, layer: String, table: String)(f: => Unit): Unit =
    Trace.span(s"store.$kind") {
      bump(s"${kind}_calls")
      if (!Trace.on) f
      else {
        // a replace rewrites every file; an append adds to what is there
        val (n0, b0) = if (kind == "append") files(layer, table) else (0L, 0L)
        val t0 = System.nanoTime()
        f
        bump("write_ns", System.nanoTime() - t0)
        val (n1, b1) = files(layer, table)
        bump("files_written", n1 - n0); bump("bytes_written", b1 - b0)
      }
    }

  override def replace(layer: String, table: String, df: DataFrame): Unit =
    write("replace", layer, table)(inner.replace(layer, table, df))
  override def append(layer: String, table: String, df: DataFrame): Unit =
    write("append", layer, table)(inner.append(layer, table, df))
  override def read(layer: String, table: String): DataFrame =
    Trace.span("store.read") { bump("read_calls"); inner.read(layer, table) }
  override def exists(layer: String, table: String): Boolean = inner.exists(layer, table)
  override def tables(layer: String): Seq[String] = inner.tables(layer)

  /** Most parquet files in any one table of the store. */
  def filesPerTableMax: Long =
    Seq("source", "staging", "production").flatMap(l => inner.tables(l).map(t => files(l, t)._1))
      .foldLeft(0L)(math.max)
}

/** Turns the recorded spans and listener events into per-layer metrics. */
object Report {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Union length of possibly overlapping [start, end) intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  def layerOf(name: String): String = name.takeWhile(_ != '.')

  /** Self time per layer: each span's duration minus the part of it its
    * child spans cover. The harness's own round span is left out. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.filterNot(_.name == "bench.round").groupMapReduce(s => layerOf(s.name)) { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
      (s.endNs - s.startNs - covered(ch)) / 1e9
    }(_ + _)
  }

  /** Spark counts per timed unit (a refresh or a board pass), both in
    * total and under the enclosing phase span (the outermost
    * `pipeline.*` / `queries.*` span around the event). Only events
    * inside a traced round count, so output checks stay out. */
  def sparkMetrics(spans: Seq[Span], writes: Long, units: Double): Map[String, Double] = {
    def ms(s: Span) = (s.name, s.startNs / 1000000L, s.endNs / 1000000L)
    val rounds = spans.filter(_.name == "bench.round").map(ms)
    def inRound(t: Long) = rounds.exists { case (_, a, b) => t >= a && t <= b }
    val phases = spans.filter(s => s.name.startsWith("pipeline.") || s.name.startsWith("queries.")).map(ms)
    def phaseAt(t: Long): Option[String] =
      phases.filter { case (_, a, b) => t >= a && t <= b }.sortBy(_._2).headOption.map(_._1)

    val jobs = SparkEvents.jobs.asScala.toSeq.filter(j => inRound(j.timeMs))
    val tasks = SparkEvents.tasks.asScala.toSeq.filter(t => inRound(t.launchMs))
    val actions = SparkEvents.actions.asScala.toSeq.filter(a => inRound(a.startMs))
    val batches = SparkEvents.batches.asScala.toSeq.filter(b => inRound(b.timeMs))
    val stages = tasks.map(_.stageId).distinct
    val out = mutable.LinkedHashMap.empty[String, Double]
    def phase(as: Seq[SparkEvents.Action], k: String) =
      as.flatMap(_.phasesMs.get(k)).map { case (a, b) => (b - a) / 1e3 }.sum / units

    def add(prefix: String, catalyst: String, js: Seq[SparkEvents.Job],
            ts: Seq[SparkEvents.Task], as: Seq[SparkEvents.Action]): Unit = {
      out(s"$prefix.jobs") = js.size / units
      out(s"$prefix.tasks") = ts.size / units
      out(s"$prefix.task_s") = ts.map(_.runMs).sum / 1e3 / units
      out(s"$prefix.actions") = as.size / units
      out(s"$catalyst.analysis_s") = phase(as, "analysis")
      out(s"$catalyst.optimization_s") = phase(as, "optimization")
      out(s"$catalyst.planning_s") = phase(as, "planning")
    }

    add("spark", "catalyst", jobs, tasks, actions)
    out("spark.stages") = stages.size / units
    out("spark.shuffle_write_bytes") = tasks.map(_.shuffleWrite).sum / units
    out("spark.shuffle_read_bytes") = tasks.map(_.shuffleRead).sum / units
    out("spark.spill_bytes") = tasks.map(_.spill).sum / units
    // skew: the worst stage's max / median task time, over stages of 2+ tasks
    out("spark.skew") = tasks.groupBy(_.stageId).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_.durationMs.toDouble)
      d.max / math.max(1.0, median(d))
    }.foldLeft(1.0)(math.max)
    out("spark.actions_failed") = actions.count(_.failed) / units
    out("spark.actions_per_write") = if (writes == 0) 0.0 else
      actions.count(a => phaseAt(a.startMs).exists(_.startsWith("pipeline."))).toDouble / writes

    out("streaming.batches") = batches.size / units
    out("streaming.no_data_batches") = batches.count(_.inputRows == 0) / units
    out("streaming.add_batch_s") = batches.map(_.addBatchMs).sum / 1e3 / units
    out("streaming.commit_s") = batches.map(_.commitMs).sum / 1e3 / units
    out("streaming.state_rows") = batches.map(_.stateRows).sum / units

    for (p <- phases.map(_._1).distinct.sorted)
      add(p, p, jobs.filter(j => phaseAt(j.timeMs).contains(p)),
        tasks.filter(t => phaseAt(t.launchMs).contains(p)),
        actions.filter(a => phaseAt(a.startMs).contains(p)))
    out.toMap
  }

  def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.startNs).foreach { s =>
      sb.append(s"""{"run": "${Trace.runId}", "id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "thread": "${s.thread.replace("\"", "'")}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}\n""")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}
