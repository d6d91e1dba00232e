package pipebench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import com.sun.management.GarbageCollectionNotificationInfo

import graft.{Engine, Pipeline}
import graft.operators.{TableStore, Transforms}
import graft.sources.JsonFlatten

/** Runs one benchmark workload in this JVM and prints its metrics.
  *
  * {{{
  * pipebench.Main --workload refresh|board --seed N --seconds S
  *   --trace 0|1 --cores C --run-dir DIR --data-dir DIR --spawn-ms MS
  *   [--rows-per-type N]
  * pipebench.Main --record-digests VERIFY_OUT --scale sf0.01 --data-dir DIR
  * }}}
  *
  * Every workload runs in rounds until `--seconds` of timed work are
  * done, and at least twice. A round is one timed unit: a full
  * refresh or one board pass. With `--trace 1`
  * every other round is traced, so the tracing overhead is measured in
  * the same process.
  */
object Main {
  // ---------------------------------------------------------------- sizes

  /** `refresh` volumes: `rows` trades rows per instrument type, a third
    * as many news and indexvalues rows, 200 rows on each other endpoint.
    * `--rows-per-type` overrides the default, for size sweeps. */
  val defaultTradesPerType = 96000
  def refreshSizes(rows: Int): Sizes =
    Sizes(tradesPerType = rows, news = rows / 3, indexValues = rows / 3, otherRows = 200)
  val warmupSizes = Sizes(tradesPerType = 200, news = 50, indexValues = 50, otherRows = 20)

  /** The board: parity and incremental operators, and a stateful stream. */
  val boardQueries: Seq[String] = Seq(
    "q01_stg_trades", "q02_prd_trades_star", "q04_watermark_max", "q06_keeplast_dedup",
    "q22_json_flatten", "q38_asof_join", "q58_incremental_e2e", "q141_stream_join")

  // ------------------------------------------------------------- pipeline

  val tradeTables: Seq[String] = Registry.instrumentTypes.map(t => s"src_exchange_trades_$t")
  val stagedTables: Seq[String] = tradeTables :+ "src_exchange_news" :+ "src_exchange_indexvalues"
  def prdName(src: String): String = src.replaceFirst("^src_", "prd_")

  private def stgTrades(df: DataFrame): DataFrame = {
    val projected = Transforms.project(df, Seq("id", "date_time",
      "close_price", "close_price_change", "instrument_id", "meta_version"))
    val cleaned = Transforms.dropNullRows(projected, Seq("id", "date_time",
      "close_price", "close_price_change", "instrument_id"))
    val withDate = Transforms.insertAt(cleaned, "j_date",
      Transforms.slashDateFromCompact(col("date_time")), 2)
    Transforms.insertAt(withDate, "pct",
      Transforms.pctChange(col("close_price_change"), col("close_price")), 5)
  }

  private def stgNews(df: DataFrame): DataFrame = {
    val cleaned = Transforms.dropNullRows(
      Transforms.project(df, Seq("id", "date_time", "title", "text", "meta_version")),
      Seq("id", "date_time", "title"))
    Transforms.insertAt(cleaned, "j_date", Transforms.slashDateFromCompact(col("date_time")), 2)
  }

  private def stgIndexValues(df: DataFrame): DataFrame = {
    val cleaned = Transforms.dropNullRows(
      Transforms.project(df, Seq("id", "date_time", "open_value", "low_value", "high_value",
        "close_value", "close_value_change", "index_id", "meta_version")),
      Seq("id", "date_time", "close_value", "close_value_change", "index_id"))
    val withDate = Transforms.insertAt(cleaned, "j_date",
      Transforms.slashDateFromCompact(col("date_time")), 2)
    Transforms.insertAt(withDate, "pct",
      Transforms.pctChange(col("close_value_change"), col("close_value")), 8)
  }

  /** Staging transforms per source table. */
  val stagingFns: Map[String, DataFrame => DataFrame] =
    tradeTables.map(t => t -> (stgTrades _)).toMap ++ Map(
      "src_exchange_news" -> (stgNews _), "src_exchange_indexvalues" -> (stgIndexValues _))

  private def window(df: DataFrame): DataFrame =
    df.filter(Transforms.dateStrBetween(col("j_date"), Reference.windowLo, Reference.windowHi))

  /** Production key columns per table. */
  def keysOf(prd: String): Seq[String] =
    if (prd == "prd_exchange_news") Seq("j_date", "title") else Seq("j_date", "name")

  /** Load of one production table: trades get the 4-way broadcast star
    * join, indexvalues the `indexes` join, news none; then the F2 window
    * and keep-last inside `Pipeline.load`. */
  def loadAll(pipe: Pipeline): Seq[Try[Long]] = stagedTables.map { src =>
    val prd = prdName(src)
    pipe.load(prd, s => {
      val stg = s.read("staging", src)
      val built =
        if (src == "src_exchange_news") window(stg).select("id", "j_date", "title", "text", "meta_version")
        else if (src == "src_exchange_indexvalues") {
          val idx = s.read("source", "src_exchange_indexes").select(col("id").as("x_id"), col("name"))
          window(stg.join(broadcast(idx), col("index_id") === col("x_id"), "inner"))
            .select("id", "j_date", "name", "close_value", "pct", "meta_version")
        } else {
          val instruments = s.read("source", "src_exchange_instruments")
          val assets = Transforms.dropNullRows(s.read("source", "src_exchange_assets"), Seq("categories"))
            .withColumn("category_id", JsonFlatten.firstElementField(col("categories"), "id"))
          val cats = s.read("source", "src_exchange_categories")
          val exch = s.read("source", "src_exchange_exchanges")
          window(stg
            .join(broadcast(instruments.select(col("id").as("i_id"), col("name"),
              col("stock_company_id").as("company_id"), col("asset_id"), col("exchange_id"))),
              col("instrument_id") === col("i_id"), "inner")
            .join(broadcast(assets.select(col("id").as("a_id"), col("category_id"))),
              col("asset_id") === col("a_id"), "inner")
            .join(broadcast(cats.select(col("id").as("c_id"), col("short_name").as("category"))),
              col("category_id") === col("c_id"), "inner")
            .join(broadcast(exch.select(col("id").as("e_id"), col("title").as("market"))),
              col("exchange_id") === col("e_id"), "inner"))
            .select("id", "j_date", "name", "close_price", "pct", "category", "market", "meta_version")
        }
      built
    }, keys = keysOf(prd), versionCol = "meta_version")
  }

  /** Production tables vs the generator's keep-last reference: same key
    * set, same kept `meta_version` per key, no duplicate keys. */
  def checkProduction(store: TableStore, ref: Map[String, Map[(String, String), Long]]): Seq[String] =
    ref.toSeq.sortBy(_._1).flatMap { case (prd, want) =>
      val ks = keysOf(prd)
      val got = store.read("production", prd).select(col(ks(0)), col(ks(1)), col("meta_version"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      val gotMap = got.toMap
      val errs = mutable.Buffer.empty[String]
      if (got.length != gotMap.size) errs += s"$prd: ${got.length - gotMap.size} duplicate keys"
      if (gotMap.keySet != want.keySet)
        errs += s"$prd: key sets differ (${(gotMap.keySet -- want.keySet).size} extra, ${(want.keySet -- gotMap.keySet).size} missing)"
      val wrong = want.count { case (k, v) => gotMap.get(k).exists(_ != v) }
      if (wrong > 0) errs += s"$prd: $wrong keys kept the wrong meta_version"
      if (want.isEmpty) errs += s"$prd: reference is empty"
      errs.toSeq
    }

  // ---------------------------------------------------------------- board

  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Order-independent digest columns: row count and the wrapping sum
    * of each row's xxhash64 over its columns in output order. */
  def digestExprs(df: DataFrame): (Column, Column) = {
    val cols = df.schema.fields.toIndexedSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    (count(lit(1)).as("rows"), sum(xxhash64(cols: _*)).as("hash"))
  }

  /** Runs the action (a noop write, as `graft.Bench` times it) and
    * returns the output's digest, observed in the same pass. */
  def actionWithDigest(df: DataFrame, name: String): (Long, Long) = {
    val obs = Observation(name)
    val (rows, hash) = digestExprs(df)
    df.observe(obs, rows, hash).write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("rows").asInstanceOf[Long], Option(m("hash")).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  def loadDigests(path: String): Map[String, Map[String, (Long, Long)]] = {
    val text = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    // one line per entry: scale query rows hash
    text.linesIterator.filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\\s+")).toSeq
      .groupBy(_(0)).map { case (sc, rs) => sc -> rs.map(r => r(1) -> (r(2).toLong, r(3).toLong)).toMap }
  }

  def copyTree(from: File, to: File): Unit = {
    to.mkdirs()
    Option(from.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.isDirectory) copyTree(f, new File(to, f.getName))
      else Files.copy(f.toPath, new File(to, f.getName).toPath)
    }
  }

  // ------------------------------------------------------------ running

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, runDir: String, dataDir: String, spawnMs: Double,
                        tradesPerType: Int)

  def dirBytes(f: File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum

  def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete()
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** The largest heap occupancy right after a garbage collection while
    * `on`: the live data a run holds at its peak plus the old-generation
    * garbage G1 has not reclaimed yet. How much of that garbage lingers
    * depends on the heap size, which `run.py` fixes. */
  object HeapAfterGc {
    @volatile var on = false
    @volatile var maxBytes = 0L
    private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n: Notification, _: AnyRef) =>
          if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { maxBytes = math.max(maxBytes, used) }
          }, null, null)
      case _ =>
    }
  }

  /** CPU seconds this JVM has used, over all its threads. Time the
    * hypervisor steals from the guest is not in it. */
  private def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** (steal, total) jiffies of the host's CPUs so far, from /proc/stat. */
  private def cpuJiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = f.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (xs(7), xs.sum)
    } finally f.close()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** What one round hands back: its timed seconds and any check errors. */
  final case class RoundResult(seconds: Double, attempted: Int, failed: Int, errors: Seq[String])

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (kv.contains("record-digests")) { recordDigests(kv); return }
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("cores").toInt, kv("run-dir"), kv("data-dir"), kv("spawn-ms").toDouble,
      kv.get("rows-per-type").map(_.toInt).getOrElse(defaultTradesPerType))
    require(Set("refresh", "board")(o.workload), s"unknown workload ${o.workload}")
    val ok = run(o)
    sys.exit(if (ok) 0 else 1)
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  def run(o: Opts): Boolean = {
    val spark = Engine.localSession(o.cores)
    val runDir = new File(o.runDir)
    Trace.runId = s"${o.workload}-${o.seed}-${ProcessHandle.current().pid()}"
    val w: Workload = o.workload match {
      case "refresh" => new RefreshWorkload(spark, o)
      case "board" => new BoardWorkload(spark, o)
    }
    w.prepare()
    val setupS = (System.currentTimeMillis() - o.spawnMs) / 1e3
    if (o.trace) SparkEvents.register(spark)

    val untraced = mutable.Buffer.empty[Double]
    val traced = mutable.Buffer.empty[Double]
    val cpu = mutable.Buffer.empty[Double]
    var steal = 0L; var jiffies = 0L
    var attempted = 0; var failed = 0
    val errors = mutable.Buffer.empty[String]
    var timed = 0.0; var r = 0
    HeapAfterGc.install()
    // traced runs alternate untraced and traced rounds, starting and
    // ending untraced, so the untraced rounds bracket the traced ones
    // while the JIT is still warming up
    while (r < 2 || (o.trace && r % 2 == 0) || timed < o.seconds) {
      val tracing = o.trace && r % 2 == 1
      Trace.on = tracing
      HeapAfterGc.on = !tracing
      val (c0, (s0, j0)) = (processCpuS(), cpuJiffies())
      val res = w.round(r)
      val (c1, (s1, j1)) = (processCpuS(), cpuJiffies())
      Trace.on = false
      HeapAfterGc.on = false
      (if (tracing) traced else untraced) += res.seconds
      if (!tracing) { cpu += c1 - c0; steal += s1 - s0; jiffies += j1 - j0 }
      timed += res.seconds; attempted += res.attempted; failed += res.failed
      errors ++= res.errors.map(e => s"round $r: $e")
      r += 1
    }
    errors ++= w.finish()
    val storeMb = w.storeBytes / 1e6
    val rss = vmHwmMb()
    val heapMb = HeapAfterGc.maxBytes / 1048576.0

    val human = mutable.LinkedHashMap.empty[String, (Double, String)]
    human("setup_s") = (setupS, "s")
    human(w.workMetric) = (median(untraced.toSeq), "s")
    human("work_s") = (median(untraced.toSeq), "s")
    human("work_cpu_s") = (median(cpu.toSeq), "s")
    human("host_steal_frac") = (steal.toDouble / math.max(1L, jiffies), "ratio")
    human("fail_frac") = (failed.toDouble / math.max(1, attempted), "ratio")
    if (o.workload != "board") human("store_mb") = (storeMb, "MB")
    human("rss_peak_mb") = (rss, "MB")
    human("heap_peak_mb") = (heapMb, "MB")
    println(s"# ${o.workload}: ${untraced.size} untraced rounds (${untraced.map(x => f"$x%.3f").mkString(", ")}) s" +
      (if (traced.nonEmpty) s"; ${traced.size} traced (${traced.map(x => f"$x%.3f").mkString(", ")}) s" else ""))
    w.notes.foreach(n => println(s"# $n"))
    human.foreach { case (k, (v, u)) => println(f"metric $k%-14s ${num(v)} $u") }

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(("setup_s", setupS, "s"), ("work_s", median(untraced.toSeq), "s"),
        ("heap_peak_mb", heapMb, "MB"))
      else {
        Trace.on = false
        org.apache.spark.BusDrain(spark.sparkContext)
        val spans = Trace.spans.asScala.toSeq
        val units = traced.size.toDouble
        val sm = Report.sparkMetrics(spans, w.writes, units)
        val layer = w.layerMetrics(spans, units) ++ sm ++
          Report.selfTimes(spans).map { case (k, v) => s"$k.self_s" -> v / units } ++
          Map("queries.construct_jobs" -> sm.getOrElse("queries.construct.jobs", 0.0),
            "trace.overhead_s" -> (median(traced.toSeq) - median(untraced.toSeq)),
            "trace.overhead_frac" -> (median(traced.toSeq) / median(untraced.toSeq) - 1))
        val spansFile = new File(runDir.getParentFile, s"${Trace.runId}.spans.jsonl")
        Report.writeSpans(spansFile.getPath, spans)
        val reportFile = new File(runDir.getParentFile, s"${Trace.runId}.layers.json")
        Files.writeString(reportFile.toPath, layer.toSeq.sortBy(_._1)
          .map { case (k, v) => s"""  "$k": ${num(v)}""" }.mkString("{\n", ",\n", "\n}\n"))
        println(s"# spans: ${spansFile.getPath} (${spans.size}); layers: ${reportFile.getPath}")
        layer.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"layer $k%-36s ${num(v)}") }
        PerLayer.names.map { case (k, u) => (k, layer.getOrElse(k, 0.0), u) }
      }

    val correct = errors.isEmpty
    errors.take(20).foreach(e => System.err.println(s"[pipebench] check failed: $e"))
    val json = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    println(s"""PIPEBENCH_RESULT {"correct": $correct, "attempted": ${math.max(1, attempted)}, "failed": $failed, "metrics": $json}""")
    spark.stop()
    correct
  }

  private def recordDigests(kv: Map[String, String]): Unit = {
    val spark = Engine.localSession(kv.getOrElse("cores", "4").toInt)
    val out = kv("record-digests"); val scale = kv("scale")
    boardQueries.foreach { q =>
      val df = spark.read.parquet(s"$out/$q.parquet")
      val (rows, hash) = actionWithDigest(df, s"rec_$q")
      println(s"$scale $q $rows $hash")
    }
    spark.stop()
  }
}

/** The per-layer metrics a traced run puts in its result line, with units:
  * every per-layer count and time the benchmark defines, and the tracing
  * overhead. A layer a workload does not enter reads 0 there (`sources.*`,
  * `pipeline.*`, `store.*` on board; `queries.*`, `streaming.*` on
  * refresh). Self times, the per-phase Spark and Catalyst breakdowns and
  * `trace.overhead_s` are in the run's `.layers.json` report only. */
object PerLayer {
  val names: Seq[(String, String)] = Seq(
    "sources.fetches" -> "count", "sources.fetches_per_endpoint" -> "ratio",
    "sources.bytes" -> "bytes", "sources.rows" -> "count", "sources.fetch_s" -> "s",
    "pipeline.extract_s" -> "s", "pipeline.transform_s" -> "s", "pipeline.load_s" -> "s",
    "pipeline.tables_failed" -> "count",
    "store.replace_calls" -> "count", "store.append_calls" -> "count",
    "store.read_calls" -> "count", "store.write_s" -> "s", "store.files_written" -> "count",
    "store.bytes_written" -> "bytes", "store.files_per_table_max" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.skew" -> "ratio", "spark.actions" -> "count", "spark.actions_per_write" -> "ratio",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "queries.construct_s" -> "s", "queries.action_s" -> "s", "queries.construct_jobs" -> "count",
    "streaming.batches" -> "count", "streaming.no_data_batches" -> "count",
    "streaming.add_batch_s" -> "s", "streaming.commit_s" -> "s",
    "streaming.state_rows" -> "count",
    "trace.overhead_frac" -> "ratio")
}

/** One workload: untimed preparation, then timed rounds. */
abstract class Workload(val spark: SparkSession, val o: Main.Opts) {
  import Main._
  def workMetric: String
  def prepare(): Unit
  def round(r: Int): RoundResult
  /** Checks that need the whole run (after the last round). */
  def finish(): Seq[String] = Nil
  def storeBytes: Long = 0L
  /** Store writes in traced rounds (the denominator of actions_per_write). */
  def writes: Long = 0L
  def notes: Seq[String] = Nil
  def layerMetrics(spans: Seq[Span], units: Double): Map[String, Double]

  protected def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val v = f; (v, (System.nanoTime() - t0) / 1e9)
  }
  protected def spanSeconds(spans: Seq[Span], name: String): Double =
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum
}
