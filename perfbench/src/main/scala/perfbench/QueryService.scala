package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.sum

import graft.core.Tables
import graft.ingest.Ingest
import graft.jexl.{JexlParser, LuceneParser}
import graft.query._

/** One generated query slot: JEXL or LUCENE text, the table it targets,
  * its order columns and how many `next` calls follow the first page. */
final case class Query(slot: Int, table: String, syntax: String, text: String,
                       order: Seq[String], nextPages: Int)

/** What one client saw for one query: latencies, page sizes, the order
  * keys of every served row, and whether paging reached the end. */
final case class Served(slot: Int, firstMs: Double, nextMs: Seq[Double],
                        pages: Seq[Int], keys: Seq[String], exhausted: Boolean,
                        totalMs: Double)

/** An analyst paging JEXL/LUCENE queries through the REST tier: a
  * [[QueryServer]] over events, orders and lineitem whose logic expands
  * unfielded terms through a global index built at set-up. */
final class QueryService(ctx: Ctx) extends Workload {
  import Main._

  private val spark = ctx.spark
  private val pageSize = ctx.manifest("page_size").asInstanceOf[Int]
  private def queries(key: String): Seq[Query] =
    ctx.manifest(key).asInstanceOf[Seq[Map[String, Any]]].map { m =>
      Query(m("slot").asInstanceOf[Int], m("table").toString, m("syntax").toString,
        m("query").toString, m("order").asInstanceOf[Seq[String]],
        m("next_pages").asInstanceOf[Int])
    }
  private val mix = queries("queries")
  /** the same client path recording nothing */
  private val off = new Tracer(false)
  private val warm = queries("warmup")

  private var tables: Map[String, DataFrame] = Map.empty
  private var index: DataFrame = _
  private var logic: ShardQueryLogic = _
  private var server: QueryServer = _
  private var url: String = _
  private var setupLayers: Map[String, Double] = Map.empty

  def setup(): Unit = {
    val dir = ctx.inputs
    tables = logged("tables")(Map("events" -> Tables.events(spark, dir),
      "orders" -> Tables.orders(spark, dir),
      "lineitem" -> Tables.lineitem(spark, dir)))
    // the global index: events melted to the long layout, then aggregated
    val t0 = now()
    val long = ctx.tracer.span("setup", "ingest.to_long") {
      Ingest.toLong(tables("events"), "event_id", "event", "ts")
    }
    val toLongMs = msSince(t0)
    val t1 = now()
    index = logged("global index")(ctx.tracer.span("setup", "ingest.global_index") {
      val gi = Ingest.globalIndex(long).persist()
      gi.count()
      gi
    })
    setupLayers = Map("ingest.to_long_ms" -> toLongMs,
      "ingest.global_index_ms" -> msSince(t1),
      "ingest.long_rows" -> index.agg(sum("cnt")).head().getLong(0).toDouble)
    logic = new ShardQueryLogic(index = Some(index))
    server = logged("server")(new QueryServer(tables, logic, stateDir = ctx.dir("server"),
      defaultPageSize = pageSize, metricsFlush = false))
    url = s"http://127.0.0.1:${server.start(0)}"
    warmQueries()
  }

  /** Untimed warm-up over its own query list: one round of six, one of
    * each table and kind, after which the first-page median is within
    * about a fifth of settled. */
  private def warmQueries(): Unit = {
    val svc = new RemoteQueryService(url)
    val rounds = warm.grouped(6).toSeq
    warmUp("query round", rounds.size) { n =>
      median(rounds(n).flatMap(q =>
        ctx.attempt("warm-up query")(run(svc, q, "warm", off)).toOption).map(_.firstMs))
    }
  }

  private val keyRx = "\"([a-z_]+)\":(-?\\d+)".r

  private def keyOf(order: Seq[String])(row: String): String = {
    val m = keyRx.findAllMatchIn(row).map(x => x.group(1) -> x.group(2)).toMap
    order.map(m).mkString(":")
  }

  /** createAndNext, up to `nextPages` next calls, close. */
  private def run(svc: RemoteQueryService, q: Query, op: String,
                  tr: Tracer): Served = {
    tr.span(op, "query") {
      val t0 = now()
      val first = tr.span(op, "http.create_and_next") {
        svc.createAndNext(q.table, q.text, q.syntax, pageSize, q.order)
      }
      val firstMs = msSince(t0)
      first match {
        case None => Served(q.slot, firstMs, Nil, Nil, Nil, exhausted = true, firstMs)
        case Some((id, rows)) =>
          val pages = ArrayBuffer(rows.size)
          val keys = ArrayBuffer.from(rows.map(keyOf(q.order)))
          val nextMs = ArrayBuffer.empty[Double]
          var exhausted = false
          while (!exhausted && nextMs.size < q.nextPages) {
            val t1 = now()
            val page = tr.span(op, "http.next")(svc.nextPage(id))
            nextMs += msSince(t1)
            page match {
              case None => exhausted = true
              case Some(r) => pages += r.size; keys ++= r.map(keyOf(q.order))
            }
          }
          // storage of the open session: what the index did not hold
          if (tr.enabled) cachedMb += storageMb - baseStorageMb
          tr.span(op, "http.close")(if (!exhausted) svc.close(id))
          Served(q.slot, firstMs, nextMs.toSeq, pages.toSeq, keys.toSeq, exhausted,
            msSince(t0))
      }
    }
  }
  private val cachedMb = ArrayBuffer.empty[Double]
  /** storage memory held before the first query: the global index */
  private var baseStorageMb = 0.0
  private def storageMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1024.0 * 1024.0)

  private def record(r: Either[String, Served], slot: Int, client: Int,
                     kind: String = "http"): Map[String, Any] =
    r match {
      case Right(s) => Map("slot" -> slot, "client" -> client, "kind" -> kind, "ok" -> true,
        "first_ms" -> s.firstMs, "next_ms" -> s.nextMs, "pages" -> s.pages,
        "keys" -> s.keys, "exhausted" -> s.exhausted, "total_ms" -> s.totalMs)
      case Left(err) => Map("slot" -> slot, "client" -> client, "kind" -> kind,
        "ok" -> false, "error" -> err)
    }

  /** Closed loop: `clients` threads each send the next of `n` queries of
    * the mix when their previous one is closed. Returns the per-query
    * records in completion order and the wall time until the last query
    * closed. */
  private def closedLoop(clients: Int, n: Int): (Seq[Map[String, Any]], Double) = {
    val next = new AtomicInteger(0)
    val out = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Map[String, Any]]())
    val t0 = now()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val svc = new RemoteQueryService(url)
        var i = next.getAndIncrement()
        while (i < n) {
          val q = mix(i % mix.size)
          val r = ctx.attempt(s"query slot ${q.slot}")(run(svc, q, s"q$i", off))
          out.add(record(r, q.slot, c))
          i = next.getAndIncrement()
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    (out.asScala.toSeq, msSince(t0))
  }

  /** Queries per run: whole rounds of the stratified mix, about four
    * seconds of two-client work per round on a 4-core box, so every run
    * and every build serves the same queries. */
  private def roundsFor(seconds: Double): Int = math.max(1, math.round(seconds / 4).toInt)
  private val roundSize = ctx.manifest("round_size").asInstanceOf[Int]

  def measure(): Map[String, Any] = {
    val gc0 = (ctx.jvm.gcCount, ctx.jvm.gcMs)
    val setupEnd = System.currentTimeMillis()
    if (!ctx.trace) {
      val (ops, wallMs) = closedLoop(2, roundsFor(ctx.seconds) * roundSize)
      return Map("setup_end_ms" -> setupEnd, "window_ms" -> wallMs,
        "heap_live_mb" -> ctx.jvm.liveHeapMb(), "ops" -> ops,
        "layers" -> jvmMetrics(ctx, gc0))
    }
    // traced run, one round of the mix. 1: one client, each slot sent
    // traced and untraced (alternating which goes first) for exact layer
    // attribution and the tracing overhead
    baseStorageMb = storageMb
    val p1 = ArrayBuffer.empty[Map[String, Any]]
    val svc = new RemoteQueryService(url)
    val pairs = ArrayBuffer.empty[(Double, Double)]
    for (i <- 0 until roundSize) {
      val q = mix(i)
      val tracedFirst = i % 2 == 0
      def once(traced: Boolean): Either[String, Served] =
        ctx.attempt(s"query slot ${q.slot}")(
          run(svc, q, s"q$i", if (traced) ctx.tracer else off))
      val a = once(tracedFirst)
      val b = once(!tracedFirst)
      val (tr, un) = if (tracedFirst) (a, b) else (b, a)
      p1 += record(tr, q.slot, 0)
      p1 += record(un, q.slot, 0, "untraced")
      for (x <- tr; y <- un) pairs += ((x.firstMs, y.firstMs))
    }
    val p1Ops = p1.filter(m => m("ok") == true && m("kind") == "http")
    // 2: the same queries replayed in process, layer by layer
    val (replay, replayOps) = replayInProcess(p1Ops.map(_("slot").asInstanceOf[Int]).toSeq)
    // 3: two clients over the same round, for the queueing the second adds
    val (p3, _) = closedLoop(2, roundSize)
    val spans = ctx.tracer.spans
    val firstBySlot = p1Ops.map(m => m("slot").asInstanceOf[Int] -> m("first_ms").asInstanceOf[Double]).toMap
    val httpOverhead = replay.flatMap { case (slot, inProc) =>
      firstBySlot.get(slot).map(_ - inProc) }
    val p1First = p1Ops.map(_("first_ms").asInstanceOf[Double]).toSeq
    val p3First = p3.filter(_("ok") == true).map(_("first_ms").asInstanceOf[Double])
    val layers = Map(
      "jexl.parse_us" -> layerMs(spans, "jexl.parse") * 1000,
      "query.logic_ms" -> layerMs(spans, "query.logic"),
      "query.plan_ms" -> layerMs(spans, "query.plan"),
      "query.first_page_exec_ms" -> layerMs(spans, "query.first_page_exec"),
      "query.next_page_exec_ms" -> layerMs(spans, "query.next_page_exec"),
      "query.http_overhead_ms" -> median(httpOverhead),
      "query.http_wait_ms" -> (median(p3First) - median(p1First)),
      "query.next_page_p50_ms" -> median(p1Ops.flatMap(_("next_ms").asInstanceOf[Seq[Double]]).toSeq),
      "query.rows_per_query" -> p1Ops.map(_("pages").asInstanceOf[Seq[Int]].sum.toDouble).sum / math.max(1, p1Ops.size),
      "query.pages_per_query" -> p1Ops.map(_("pages").asInstanceOf[Seq[Int]].size.toDouble).sum / math.max(1, p1Ops.size),
      "query.cached_mb" -> (if (cachedMb.isEmpty) 0.0 else cachedMb.sum / cachedMb.size),
      // geometric mean of the per-slot ratios: the alternating send order
      // cancels the second send's warm-cache advantage
      "trace.overhead_frac" -> (math.exp(pairs.map { case (t, u) => math.log(t / u) }.sum /
        math.max(1, pairs.size)) - 1)
    ) ++ setupLayers ++ sparkPerOp(ctx, "query") ++ jvmMetrics(ctx, gc0)
    writeSpans(ctx, s"${ctx.work}/spans.json")
    Map("setup_end_ms" -> setupEnd,
      "heap_live_mb" -> ctx.jvm.liveHeapMb(), "ops" -> (p1.toSeq ++ replayOps ++ p3),
      "layers" -> layers)
  }

  /** The server's create/first-page/next path without HTTP: parse, the
    * logic call, physical planning, then pages off the persisted frame.
    * Returns (slot, logic + plan + first page ms) per query replayed, and
    * a record per replay whose served pages the runner checks like the
    * HTTP ones. */
  private def replayInProcess(slots: Seq[Int]): (Seq[(Int, Double)], Seq[Map[String, Any]]) = {
    val cursor = new QueryCursor(ctx.dir("replay-cursor"))
    val bySlot = mix.map(q => q.slot -> q).toMap
    val tr = ctx.tracer
    val out = ArrayBuffer.empty[(Int, Double)]
    val records = slots.distinct.map { slot =>
      val q = bySlot(slot)
      val op = s"r$slot"
      val r = ctx.attempt(s"replay slot $slot") {
        tr.span(op, "replay") {
          tr.span(op, "jexl.parse") {
            if (q.syntax == "LUCENE") LuceneParser.parse(q.text) else JexlParser.parse(q.text)
          }
          val t0 = now()
          val df = tr.span(op, "query.logic") {
            logic.query(tables(q.table), q.text, QueryParams(syntax = q.syntax))
          }
          tr.span(op, "query.plan")(df.queryExecution.executedPlan)
          val id = s"replay$slot"
          val cached = df.persist()
          try {
            val running = new RunningQuery(cursor, id, cached, q.order, pageSize,
              sink = _ => ())
            val first = tr.span(op, "query.first_page_exec")(running.nextPageJson())
            val firstMs = msSince(t0)
            out += ((slot, firstMs))
            val pages = ArrayBuffer.empty[Array[String]]
            first.foreach(p => pages += p._1)
            var more = first.isDefined
            while (more && pages.size <= q.nextPages) {
              val page = tr.span(op, "query.next_page_exec")(running.nextPageJson())
              page.foreach(p => pages += p._1)
              more = page.isDefined
            }
            Served(slot, firstMs, Nil, pages.map(_.length).toSeq,
              pages.flatMap(_.map(keyOf(q.order))).toSeq, exhausted = !more, msSince(t0))
          } finally {
            cached.unpersist()
            cursor.close(id)
          }
        }
      }
      record(r, slot, 0, "replay")
    }
    (out.toSeq, records)
  }

  override def teardown(): Unit = if (server != null) server.stop()
}
