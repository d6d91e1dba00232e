package pipebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.EndpointRegistry
import graft.EndpointSpec
import graft.sources.api.ApiTransport

/** The Mabna endpoint registry in constants.yaml's shape: collections
  * of items, with `exchange/trades` fanned out over instrument types.
  * The reference registry has 78 endpoints (bond 3, broker 1, calendar
  * 3, option 3, exchange 32, fund 1, stock 28 items; trades × 8 types);
  * this one keeps the eight exchange items the pipeline reads and one
  * item in each of three other collections, with two instrument types:
  * 12 endpoints and 4 production tables. Each
  * endpoint and each production table costs a fixed number of Spark
  * jobs, so a run over the full registry takes 40-60 s per refresh,
  * more than the benchmark's run budget allows. */
object Registry {
  val instrumentTypes: Seq[String] = Seq("share", "bond")

  /** The exchange items the pipeline transforms or joins; every other
    * item is a generic small feed. */
  val exchangeCore: Seq[String] =
    Seq("trades", "news", "indexvalues", "instruments", "assets", "categories",
      "exchanges", "indexes")

  private val collections: Seq[(String, Seq[String])] = Seq(
    "bond" -> Seq("bonds"),
    "exchange" -> exchangeCore,
    "fund" -> Seq("funds"),
    "stock" -> Seq("profiles"))

  val yaml: String =
    s"""instrument_types: [${instrumentTypes.mkString(", ")}]
       |collections:
       |${collections.map { case (c, items) => s"  $c: [${items.mkString(", ")}]" }.mkString("\n")}
       |""".stripMargin

  /** Parsed through the engine's own registry reader. */
  lazy val specs: Seq[EndpointSpec] = EndpointRegistry.fromYaml(yaml)
}

/** Volumes of one generated data set. */
final case class Sizes(tradesPerType: Int, news: Int, indexValues: Int, otherRows: Int)

/** What the transport has handed out, over every fetch. */
object SourceCounters {
  val fetches = new AtomicLong
  val bytes = new AtomicLong
  val rows = new AtomicLong
}

/** One endpoint's records, in ascending `meta.version`; each record is
  * kept as its serialized JSON so a fetch only concatenates. */
final class Feed {
  private val versions = ArrayBuffer.empty[Long]
  private val bodies = ArrayBuffer.empty[String]

  def add(version: Long, json: String): Unit = synchronized {
    require(versions.isEmpty || version >= versions.last, "versions must not decrease")
    versions += version; bodies += json
  }
  /** `{"data": [...]}` with every record whose version is `> wm`. */
  def bodyAfter(wm: Long): (String, Int) = synchronized {
    var lo = 0; var hi = versions.size
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (versions(mid) > wm) hi = mid else lo = mid + 1 }
    val sb = new java.lang.StringBuilder("{\"data\": [")
    var i = lo
    while (i < versions.size) { if (i > lo) sb.append(", "); sb.append(bodies(i)); i += 1 }
    (sb.append("]}").toString, versions.size - lo)
  }
}

/** Serves a generated [[Mabna]] data set with the reference API's
  * incremental contract (`meta.version={wm}&meta.version_op=gt`). */
final class SynthTransport(feeds: ConcurrentHashMap[String, Feed]) extends ApiTransport {
  override def fetch(endpoint: String, params: Map[String, String]): String =
    Trace.span("sources.fetch") {
      val feed = feeds.get(endpoint)
      require(feed != null, s"unknown endpoint $endpoint")
      val wm =
        if (params.get("meta.version_op").contains("gt"))
          params.get("meta.version").map(_.toLong).getOrElse(0L)
        else 0L
      val (body, n) = feed.bodyAfter(wm)
      SourceCounters.fetches.incrementAndGet()
      SourceCounters.bytes.addAndGet(body.length.toLong)
      SourceCounters.rows.addAndGet(n.toLong)
      body
    }
}

// Typed copies of what the reference check needs; None marks a JSON null.
final case class Trade(id: Option[Long], dateTime: Option[String], close: Option[Double],
                       change: Option[Double], instrumentId: Option[Long], version: Long)
final case class News(id: Option[Long], dateTime: Option[String], title: Option[String],
                      version: Long)
final case class IndexValue(id: Option[Long], dateTime: Option[String], close: Option[Double],
                            change: Option[Double], indexId: Option[Long], version: Long)
final case class Instrument(id: Long, name: String, assetId: Long, exchangeId: Long)

/** A seeded synthetic Mabna API: FIXTURES.md §B record shapes on the
  * endpoint registry, including the edge rows (nulls in required
  * columns, `close_price_change == close_price`, exact duplicate
  * records, short `date_time`). */
final class Mabna(seed: Long, sizes: Sizes) {
  private val rnd = new Random(seed)
  val feeds = new ConcurrentHashMap[String, Feed]()
  private val nextVersion = mutable.Map.empty[String, Long].withDefaultValue(1000L)
  private var nextId = 1000000L

  val trades: Map[String, ArrayBuffer[Trade]] =
    Registry.instrumentTypes.map(_ -> ArrayBuffer.empty[Trade]).toMap
  val news = ArrayBuffer.empty[News]
  val indexValues = ArrayBuffer.empty[IndexValue]
  val instruments = ArrayBuffer.empty[Instrument]
  /** asset id → first category id, for assets whose categories array is non-empty. */
  val assetCategory = mutable.Map.empty[Long, Long]
  val categoryIds = mutable.Set.empty[Long]
  val exchangeIds = mutable.Set.empty[Long]
  val indexNames = mutable.Map.empty[Long, String]

  private def feed(endpoint: String): Feed = feeds.computeIfAbsent(endpoint, _ => new Feed)
  private def bump(endpoint: String): Long = {
    val v = nextVersion(endpoint) + 1 + rnd.nextInt(3)
    nextVersion(endpoint) = v
    v
  }
  private def id(): Long = { nextId += 1; nextId }
  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def num(d: Option[Double]): String = d.fold("null")(x => "%.2f".formatLocal(java.util.Locale.ROOT, x))
  private def lng(l: Option[Long]): String = l.fold("null")(_.toString)
  private def str(s: Option[String]): String = s.fold("null")(q)
  private def endpointOf(item: String, t: Option[String] = None): String =
    t.fold(s"exchange/$item")(x => s"exchange/$item?instrument.type=$x")

  /** Jalali compact timestamp `yyyyMMddHHmmss`; ~3% fall before the
    * production window (year 1398). */
  private def dateTime(): String = {
    val y = if (rnd.nextDouble() < 0.03) 1398 else 1399 + rnd.nextInt(3)
    "%04d%02d%02d%02d%02d00".formatLocal(java.util.Locale.ROOT, y, 1 + rnd.nextInt(12), 1 + rnd.nextInt(29), 9 + rnd.nextInt(4), rnd.nextInt(60))
  }

  /** Rare edge rows: a null in one required field, or a short date. */
  private def edge(): Int = { val x = rnd.nextInt(400); if (x < 6) x else -1 }

  private val dimsPerType = 40

  private def genDims(): Unit = {
    val nCats = 12; val nExch = 4; val nAssets = 60; val nIdx = 25
    val catIds = (1 to nCats).map(i => 7000L + i)
    catIds.foreach { c =>
      categoryIds += c
      val ep = endpointOf("categories"); val v = bump(ep)
      feed(ep).add(v, s"""{"id": $c, "short_name": ${q(s"cat$c")}, "meta": {"version": $v}}""")
    }
    (1 to nExch).foreach { i =>
      val e = 9000L + i; exchangeIds += e
      val ep = endpointOf("exchanges"); val v = bump(ep)
      feed(ep).add(v, s"""{"id": $e, "title": ${q(s"Market $i")}, "meta": {"version": $v}}""")
    }
    (1 to nAssets).foreach { i =>
      val a = 8000L + i
      // every 15th asset has null categories, every 20th an empty array:
      // both drop out of the star join
      val cats =
        if (i % 15 == 0) None
        else if (i % 20 == 0) Some(Seq.empty[Long])
        else Some(Seq.fill(1 + rnd.nextInt(2))(catIds(rnd.nextInt(nCats))))
      cats.flatMap(_.headOption).foreach(c => assetCategory(a) = c)
      val ep = endpointOf("assets"); val v = bump(ep)
      val catJson = cats.fold("null")(_.map(c => s"""{"id": $c, "n": "c$c"}""").mkString("[", ", ", "]"))
      feed(ep).add(v, s"""{"id": $a, "categories": $catJson, "meta": {"version": $v}}""")
    }
    for (t <- Registry.instrumentTypes; i <- 1 to dimsPerType) {
      val iid = 300000L + Registry.instrumentTypes.indexOf(t) * 1000 + i
      val inst = Instrument(iid, s"$t-$i", 8000L + 1 + rnd.nextInt(nAssets), 9000L + 1 + rnd.nextInt(nExch))
      instruments += inst
      val ep = endpointOf("instruments"); val v = bump(ep)
      feed(ep).add(v, s"""{"id": $iid, "code": ${q(s"C$iid")}, "isin": ${q(s"IR$iid")}, "name": ${q(inst.name)}, "type": ${q(t)}, "stock": {"company": {"id": ${40000 + i}}}, "asset": {"id": ${inst.assetId}}, "exchange": {"id": ${inst.exchangeId}}, "meta": {"version": $v}}""")
    }
    (1 to nIdx).foreach { i =>
      val x = 7100L + i; indexNames(x) = s"index$i"
      val ep = endpointOf("indexes"); val v = bump(ep)
      feed(ep).add(v, s"""{"id": $x, "name": ${q(s"index$i")}, "meta": {"version": $v}}""")
    }
  }

  private def instrumentOf(t: String): Long =
    300000L + Registry.instrumentTypes.indexOf(t) * 1000 + 1 + rnd.nextInt(dimsPerType)

  private def addTrade(t: String): Unit = {
    val ep = endpointOf("trades", Some(t)); val v = bump(ep)
    val close = 100.0 + rnd.nextInt(900000) / 100.0
    val e = edge()
    val tr = Trade(
      id = if (e == 0) None else Some(id()),
      dateTime = if (e == 1) None else if (e == 5) Some(s"1401${1 + rnd.nextInt(9)}")
        else Some(dateTime()),
      close = if (e == 2) None else Some(close),
      // close_price_change == close_price: a zero denominator for the pct column
      change = if (e == 3) None else if (e == 4) Some(close) else Some(rnd.nextInt(4000) / 100.0 - 20),
      instrumentId = Some(instrumentOf(t)),
      version = v)
    val json = s"""{"id": ${lng(tr.id)}, "date_time": ${str(tr.dateTime)}, "open_price": ${num(tr.close)}, "high_price": ${num(tr.close.map(_ + 5))}, "low_price": ${num(tr.close.map(_ - 5))}, "close_price": ${num(tr.close)}, "close_price_change": ${num(tr.change)}, "trade_count": ${1 + rnd.nextInt(500)}, "volume": ${1000 + rnd.nextInt(1000000)}, "value": ${"%.1f".formatLocal(java.util.Locale.ROOT, rnd.nextDouble() * 1e9)}, "instrument": {"id": ${lng(tr.instrumentId)}, "type": ${q(t)}}, "meta": {"version": $v}}"""
    trades(t) += tr
    feed(ep).add(v, json)
    // an exact duplicate record (same id, same version) now and then
    if (rnd.nextInt(500) == 0) { trades(t) += tr; feed(ep).add(v, json) }
  }

  private val titles = 400

  private def addNews(): Unit = {
    val ep = endpointOf("news"); val v = bump(ep)
    val e = edge()
    val n = News(
      id = if (e == 0) None else Some(id()),
      dateTime = if (e == 1) None else Some(dateTime()),
      title = if (e == 2) None else Some(s"headline ${rnd.nextInt(titles)}"),
      version = v)
    news += n
    feed(ep).add(v, s"""{"id": ${lng(n.id)}, "date_time": ${str(n.dateTime)}, "title": ${str(n.title)}, "text": ${q("body " + rnd.nextLong().toHexString * 3)}, "meta": {"version": $v}}""")
  }

  private def addIndexValue(): Unit = {
    val ep = endpointOf("indexvalues"); val v = bump(ep)
    val close = 1000.0 + rnd.nextInt(100000) / 10.0
    val e = edge()
    val iv = IndexValue(
      id = if (e == 0) None else Some(id()),
      dateTime = if (e == 1) None else Some(dateTime()),
      close = if (e == 2) None else Some(close),
      change = if (e == 3) None else if (e == 4) Some(close) else Some(rnd.nextInt(200) / 10.0 - 10),
      indexId = Some(7101L + rnd.nextInt(indexNames.size)),
      version = v)
    indexValues += iv
    feed(ep).add(v, s"""{"id": ${lng(iv.id)}, "date_time": ${str(iv.dateTime)}, "open_value": ${num(iv.close)}, "low_value": ${num(iv.close.map(_ - 3))}, "high_value": ${num(iv.close.map(_ + 3))}, "close_value": ${num(iv.close)}, "close_value_change": ${num(iv.change)}, "index": {"id": ${lng(iv.indexId)}}, "meta": {"version": $v}}""")
  }

  private def addOther(endpoint: String): Unit = {
    val v = bump(endpoint)
    feed(endpoint).add(v, s"""{"id": ${id()}, "date_time": ${q(dateTime())}, "name": ${q("n" + rnd.nextInt(1000))}, "value": ${"%.2f".formatLocal(java.util.Locale.ROOT, rnd.nextDouble() * 1000)}, "company": {"id": ${40000 + rnd.nextInt(500)}}, "meta": {"version": $v}}""")
  }

  private val otherEndpoints: Seq[String] = Registry.specs.map(_.endpoint).filterNot { e =>
    Registry.exchangeCore.exists(i => e == s"exchange/$i" || e.startsWith(s"exchange/$i?"))
  }

  // ---- the data set
  genDims()
  for (t <- Registry.instrumentTypes; _ <- 1 to sizes.tradesPerType) addTrade(t)
  (1 to sizes.news).foreach(_ => addNews())
  (1 to sizes.indexValues).foreach(_ => addIndexValue())
  for (e <- otherEndpoints; _ <- 1 to sizes.otherRows) addOther(e)
  require(Registry.specs.forall(s => feeds.containsKey(s.endpoint)),
    "every registry endpoint has a feed")
}

/** The production tables' plain-Scala keep-last reference: for each
  * table, key → the highest `meta_version` among the rows that survive
  * staging (null-drop), the star join and the F2 date window. */
object Reference {
  val windowLo = "1399/01/01"
  val windowHi = "1401/12/29"

  /** Spark's `concat_ws("/", substring(s,1,4), substring(s,5,2), substring(s,7,2))`. */
  def jDate(s: String): String = {
    def sub(pos: Int, len: Int) = s.slice(pos - 1, pos - 1 + len)
    s"${sub(1, 4)}/${sub(5, 2)}/${sub(7, 2)}"
  }
  private def inWindow(d: String) = d >= windowLo && d <= windowHi

  private def keepLast(rows: Iterable[((String, String), Long)]): Map[(String, String), Long] =
    rows.groupMapReduce(_._1)(_._2)(math.max)

  def production(g: Mabna): Map[String, Map[(String, String), Long]] = {
    val inst = g.instruments.map(i => i.id -> i).toMap
    val tradeTables = Registry.instrumentTypes.map { t =>
      s"prd_exchange_trades_$t" -> keepLast(g.trades(t).flatMap { tr =>
        for {
          _ <- tr.id; dt <- tr.dateTime; _ <- tr.close; _ <- tr.change
          iid <- tr.instrumentId; i <- inst.get(iid)
          cat <- g.assetCategory.get(i.assetId) if g.categoryIds(cat) && g.exchangeIds(i.exchangeId)
          d = jDate(dt) if inWindow(d)
        } yield (d, i.name) -> tr.version
      })
    }
    val news = "prd_exchange_news" -> keepLast(g.news.flatMap { n =>
      for { _ <- n.id; dt <- n.dateTime; title <- n.title; d = jDate(dt) if inWindow(d) }
        yield (d, title) -> n.version
    })
    val idx = "prd_exchange_indexvalues" -> keepLast(g.indexValues.flatMap { iv =>
      for {
        _ <- iv.id; dt <- iv.dateTime; _ <- iv.close; _ <- iv.change
        x <- iv.indexId; name <- g.indexNames.get(x); d = jDate(dt) if inWindow(d)
      } yield (d, name) -> iv.version
    })
    (tradeTables :+ news :+ idx).toMap
  }
}
