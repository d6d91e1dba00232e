package pipebench

import java.io.File

import scala.collection.mutable
import scala.util.{Random, Try}

import org.apache.spark.sql.SparkSession

import graft.{Pipeline, SparkEntry}
import graft.operators.TableStore
import graft.sources.api.TransportRegistry

import Main._

/** `refresh`: one full refresh of every registry endpoint into an empty
  * store, then transform and load, over a generated API and a traced
  * store. Every round starts from a new store. */
final class RefreshWorkload(spark: SparkSession, o: Opts) extends Workload(spark, o) {
  override def workMetric = "refresh_s"
  private var gen: Mabna = _
  private val specs = Registry.specs
  private var ref: Map[String, Map[(String, String), Long]] = _
  /** Source counters summed over traced rounds. */
  private val src = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val stores = mutable.Buffer.empty[TracedStore]
  private var lastStore: Option[TracedStore] = None
  private var tracedRounds = 0
  /** Failed tables in traced rounds. */
  private var tablesFailed = 0L
  private val warmupErrors = mutable.Buffer.empty[String]

  private def newStore(name: String): (TracedStore, Pipeline) = {
    val store = new TracedStore(TableStore(spark, s"${o.runDir}/store/$name"))
    stores += store
    TransportRegistry.register("pipebench", new SynthTransport(gen.feeds))
    (store, new Pipeline(spark, store, "pipebench"))
  }

  private def failures(phase: String, rs: Iterable[(String, Try[Long])]): Seq[String] =
    rs.collect { case (t, f: scala.util.Failure[_]) => s"$phase $t: ${f.exception}" }.toSeq

  /** Full refresh, transform and load; (operations attempted, errors). */
  private def refresh(pipe: Pipeline): (Int, Seq[String]) = {
    val ex = Trace.span("pipeline.extract")(pipe.fullRefresh(specs))
    val tr = Trace.span("pipeline.transform")(pipe.transform(stagingFns, "replace"))
    val ld = Trace.span("pipeline.load")(loadAll(pipe))
    val errs = failures("extract", ex) ++ failures("transform", tr) ++
      failures("load", stagedTables.map(prdName).zip(ld))
    (ex.size + tr.size + ld.size, errs)
  }

  /** Set-up: a full refresh of a small data set warms the JIT and the
    * code-generation cache before the timed rounds. */
  override def prepare(): Unit = {
    gen = new Mabna(o.seed + 1, warmupSizes)
    val (warm, wpipe) = newStore("warmup")
    warmupErrors ++= refresh(wpipe)._2
    warmupErrors ++= checkProduction(warm.inner, Reference.production(gen))
    rmTree(new File(warm.inner.root))
    gen = new Mabna(o.seed, refreshSizes(o.tradesPerType))
    ref = Reference.production(gen)
  }

  override def finish(): Seq[String] = warmupErrors.map(e => s"warm-up: $e").toSeq

  override def round(r: Int): RoundResult = {
    lastStore.foreach(p => rmTree(new File(p.inner.root)))
    val (store, pipe) = newStore(s"r$r")
    lastStore = Some(store)
    val before = Seq(SourceCounters.fetches.get, SourceCounters.bytes.get, SourceCounters.rows.get)
    val ((attempted, errs), secs) = timed(Trace.span("bench.round")(refresh(pipe)))
    if (Trace.on) {
      tracedRounds += 1
      tablesFailed += errs.size
      val after = Seq(SourceCounters.fetches.get, SourceCounters.bytes.get, SourceCounters.rows.get)
      Seq("fetches", "bytes", "rows").zip(after.zip(before)).foreach { case (k, (a, b)) => src(k) += a - b }
    }
    RoundResult(secs, attempted, errs.size, errs ++ checkProduction(store.inner, ref))
  }

  override def storeBytes: Long = lastStore.map(s => dirBytes(new File(s.inner.root))).getOrElse(0L)
  override def writes: Long = stores.map(s => s.counts("replace_calls") + s.counts("append_calls")).sum

  override def layerMetrics(spans: Seq[Span], units: Double): Map[String, Double] = {
    def sum(k: String) = stores.map(_.counts(k)).sum.toDouble
    val fetchSpans = spans.filter(_.name == "sources.fetch")
    Map(
      "sources.fetches" -> fetchSpans.size / units,
      "sources.fetches_per_endpoint" -> fetchSpans.size.toDouble / math.max(1, tracedRounds * specs.size),
      "sources.bytes" -> src("bytes") / units,
      "sources.rows" -> src("rows") / units,
      "sources.fetch_s" -> spanSeconds(spans, "sources.fetch") / units,
      "pipeline.extract_s" -> spanSeconds(spans, "pipeline.extract") / units,
      "pipeline.transform_s" -> spanSeconds(spans, "pipeline.transform") / units,
      "pipeline.load_s" -> spanSeconds(spans, "pipeline.load") / units,
      "pipeline.tables_failed" -> tablesFailed / units,
      "store.replace_calls" -> sum("replace_calls") / units,
      "store.append_calls" -> sum("append_calls") / units,
      "store.read_calls" -> sum("read_calls") / units,
      "store.write_s" -> sum("write_ns") / 1e9 / units,
      "store.files_written" -> sum("files_written") / units,
      "store.bytes_written" -> sum("bytes_written") / units,
      "store.files_per_table_max" -> lastStore.map(_.filesPerTableMax.toDouble).getOrElse(0.0),
      "store.mb" -> storeBytes / 1e6)
  }
}

/** `board`: construct + action over the query board on the committed
  * sf0.01 tables, each pass on a fresh copy so the queries' own stores
  * are rebuilt; set-up runs one untimed pass on sf0.001. */
final class BoardWorkload(spark: SparkSession, o: Opts) extends Workload(spark, o) {
  override def workMetric = "board_s"
  private var digests: Map[String, Map[String, (Long, Long)]] = _
  private val construct = mutable.Map.empty[String, mutable.Buffer[Double]]
  private val action = mutable.Map.empty[String, mutable.Buffer[Double]]

  /** One pass over `order`, each query's output digest checked against
    * the one recorded for `scale`. */
  private def pass(dir: String, scale: String, order: Seq[String], name: String): RoundResult = {
    var secs = 0.0; var failed = 0
    val errs = mutable.Buffer.empty[String]
    Trace.span("bench.round") {
      order.foreach { q =>
        val t0 = System.nanoTime()
        try {
          val df = Trace.span("queries.construct")(SparkEntry.queries(q)(spark, dir))
          val t1 = System.nanoTime()
          val got = Trace.span("queries.action")(actionWithDigest(df, s"${name}_$q"))
          val t2 = System.nanoTime()
          secs += (t2 - t0) / 1e9
          construct.getOrElseUpdate(q, mutable.Buffer.empty) += (t1 - t0) / 1e9
          action.getOrElseUpdate(q, mutable.Buffer.empty) += (t2 - t1) / 1e9
          val want = digests.get(scale).flatMap(_.get(q))
          if (!want.contains(got)) errs += s"$q at $scale: digest $got, recorded $want"
        } catch {
          case e: Exception =>
            secs += (System.nanoTime() - t0) / 1e9
            failed += 1; errs += s"$q at $scale threw ${e.getMessage}"
        }
      }
    }
    RoundResult(secs, order.size, failed, errs.toSeq)
  }

  private var warmup: RoundResult = _

  override def prepare(): Unit = {
    digests = loadDigests(s"${o.dataDir}/board_digests.txt")
    warmup = pass(s"${o.dataDir}/sf0.001", "sf0.001", boardQueries, "warmup")
    construct.clear(); action.clear()
  }

  override def round(r: Int): RoundResult = {
    val dir = new File(s"${o.runDir}/board/p$r")
    copyTree(new File(s"${o.dataDir}/sf0.01"), dir)
    pass(dir.getPath, "sf0.01", new Random(o.seed * 1000 + r).shuffle(boardQueries), s"p$r")
  }

  override def finish(): Seq[String] = warmup.errors.map(e => s"warm-up: $e")

  override def notes: Seq[String] = {
    def all(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString(" ")
    Seq(f"warm-up pass on sf0.001: ${warmup.seconds}%.3f s") ++
      boardQueries.filter(construct.contains).map(q =>
        f"$q%-22s construct s: ${all(construct(q).toSeq)}; action s: ${all(action(q).toSeq)}")
  }

  override def layerMetrics(spans: Seq[Span], units: Double): Map[String, Double] = Map(
    "queries.construct_s" -> spanSeconds(spans, "queries.construct") / units,
    "queries.action_s" -> spanSeconds(spans, "queries.action") / units)
}
