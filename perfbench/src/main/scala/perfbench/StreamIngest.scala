package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress, Trigger}

import graft.ingest.Ingest
import graft.operators.Dedup
import graft.streaming.StreamingIngest

/** One closed-loop step: a documents file landed and committed, then an
  * events file. */
final case class Step(batch: Long, ms: Double, docsMs: Double, eventsMs: Double,
                      rows: Long, docsP: StreamingQueryProgress,
                      eventsP: StreamingQueryProgress)

/** Writes beside reads: two live streams fed one file per trigger — the
  * near-dup pair-join against a signature store that grows every trigger,
  * and the long-layout ingest of event rows. Closed loop: a file lands
  * only after the previous trigger committed. */
final class StreamIngest(ctx: Ctx) extends Workload {
  import Main._

  private val spark = ctx.spark
  private val warmFiles = ctx.manifest("warm_batches").asInstanceOf[Int]
  private val files = ctx.manifest("batches").asInstanceOf[Int]
  private val off = new Tracer(false)

  private val landDocs = ctx.dir("land/docs")
  private val landEvents = ctx.dir("land/events")
  private val store = s"${ctx.work}/store"
  private val pairsDir = s"${ctx.work}/pairs"
  private val outEvents = s"${ctx.work}/events-long"

  private val progress = new LinkedBlockingQueue[StreamingQueryProgress]()
  private val seen = mutable.Map.empty[(String, Long), StreamingQueryProgress]
  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.put(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  private var docsQ: StreamingQuery = _
  private var eventsQ: StreamingQuery = _
  @volatile private var currentOp = "setup"
  private var tracerNow: Tracer = off
  private var nextBatch = 0L

  /** (documents file, events file) fed as the given batch. */
  private def source(batch: Long): (Path, Path) =
    (Paths.get(ctx.input(f"docs_$batch%03d.parquet")),
      Paths.get(ctx.input(f"events_$batch%03d.parquet")))

  def setup(): Unit = {
    spark.streams.addListener(listener)
    val docSchema = "doc_id BIGINT, text STRING"
    logged("seed store")(Dedup.seedDedupStoreBatched(spark.read.schema(docSchema)
      .parquet(source(0)._1.toString), store, n = 3))
    val docs = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 1).parquet(landDocs)
    docsQ = StreamingIngest.nearDupStream(docs, store, pairsDir,
        s"${ctx.work}/ck-docs", threshold = 0.8)
      .trigger(Trigger.ProcessingTime(0)).queryName("docs").start()
    val events = spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
        "value DOUBLE, props STRING")
      .option("maxFilesPerTrigger", 1).parquet(landEvents)
    eventsQ = StreamingIngest.ingestTo(events, outEvents, s"${ctx.work}/ck-events",
        b => tracerNow.span(currentOp, "ingest.to_long") {
          Ingest.toLong(b, "event_id", "event", "ts")
        })
      .trigger(Trigger.ProcessingTime(0)).queryName("events").start()
    // the warm batches are the store's history (exactly these, so every
    // run starts the window with the same store); they also warm the
    // trigger path: a step takes about 10, 5.4, 4.4, 4.4 s over the first
    // four on a 4-core box: one warm step takes the cold start out of the
    // window, and each further one would add about 5 s to every set-up
    warmUp("trigger", warmFiles)(n => step(s"warm$n", off).ms)
  }

  /** Stages `src` hidden in the landing directory (the file source skips
    * dot-files); the returned call makes it visible under a name unique
    * to the batch. */
  private def land(src: Path, dir: String, batch: Long): () => Unit = {
    val hidden = Paths.get(dir, s".b$batch.parquet")
    Files.copy(src, hidden, StandardCopyOption.REPLACE_EXISTING)
    () => Files.move(hidden, Paths.get(dir, f"b$batch%05d.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def await(name: String, batch: Long, q: StreamingQuery): StreamingQueryProgress = {
    val deadline = now() + 60L * 1000000000L
    while (!seen.contains((name, batch))) {
      val p = progress.poll(50, TimeUnit.MILLISECONDS)
      // idle triggers also report progress; only a batch with rows commits one
      if (p != null && p.numInputRows > 0) seen((p.name, p.batchId)) = p
      else {
        q.exception.foreach(e => throw e)
        if (now() > deadline) throw new IllegalStateException(s"$name batch $batch timed out")
      }
    }
    seen.remove((name, batch)).get
  }

  private def step(op: String, tr: Tracer): Step = {
    val batch = nextBatch
    nextBatch += 1
    currentOp = op
    tracerNow = tr
    val (docFile, eventFile) = source(batch)
    val landDoc = land(docFile, landDocs, batch)
    val landEvent = land(eventFile, landEvents, batch)
    tr.span(op, "trigger") {
      val t0 = now()
      val dp = tr.span(op, "streaming.docs_trigger") {
        landDoc(); await("docs", batch, docsQ)
      }
      val t1 = now()
      val ep = tr.span(op, "streaming.events_trigger") {
        landEvent(); await("events", batch, eventsQ)
      }
      val t2 = now()
      Step(batch, (t2 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6,
        dp.numInputRows + ep.numInputRows, dp, ep)
    }
  }

  private def dirSize(dir: String): (Long, Long) = {
    val s = Files.walk(Paths.get(dir))
    try {
      val fs = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (fs.map(Files.size).sum, fs.size.toLong)
    } finally s.close()
  }

  private val phases = Seq("latestOffset" -> "latest_offset", "queryPlanning" -> "query_planning",
    "addBatch" -> "add_batch", "walCommit" -> "wal_commit",
    "commitOffsets" -> "commit_offsets", "triggerExecution" -> "trigger_execution")

  /** Steps per run: about four seconds each on a 4-core box, so every run
    * and every build times the same triggers against the same store
    * sizes. The traced run needs four, traced in the middle two, so the
    * store's growth cancels out of the tracing overhead. */
  private def stepsFor(seconds: Double): Int = {
    val n = math.max(2, math.round(seconds / 4).toInt)
    math.min(files, if (ctx.trace) math.max(4, n) else n)
  }

  def measure(): Map[String, Any] = {
    val gc0 = (ctx.jvm.gcCount, ctx.jvm.gcMs)
    val setupEnd = System.currentTimeMillis()
    val steps = ArrayBuffer.empty[(Int, Either[String, Step], Boolean, (Long, Long))]
    val n = stepsFor(ctx.seconds)
    val t0 = now()
    var i = 0
    var failed = false // a failed step leaves the streams in an unknown state
    while (!failed && i < n) {
      val traced = ctx.trace && (i % 4 == 1 || i % 4 == 2)
      val r = ctx.attempt(s"trigger $i")(step(s"t$i", if (traced) ctx.tracer else off))
      // the store as the next trigger will find it (traced run only)
      val size = if (ctx.trace) dirSize(store) else (0L, 0L)
      steps += ((i, r, traced, size))
      i += 1
      failed = r.isLeft
    }
    val windowMs = msSince(t0)
    // stopped first: idle polling would allocate while the heap is read
    docsQ.stop(); eventsQ.stop()
    val heap = ctx.jvm.liveHeapMb()
    val ops = steps.toSeq.map {
      case (i, Right(s), _, _) =>
        Map("trigger" -> i, "batch" -> s.batch, "ok" -> true, "ms" -> s.ms,
          "docs_ms" -> s.docsMs, "events_ms" -> s.eventsMs, "rows" -> s.rows)
      case (i, Left(err), _, _) => Map("trigger" -> i, "ok" -> false, "error" -> err)
    }
    val layers = if (!ctx.trace) jvmMetrics(ctx, gc0) else {
      val ok = steps.collect { case (i, Right(s), tr, size) => (i, s, tr, size) }
      val traced = ok.filter(_._3)
      def phase(key: String): Double = median(traced.map { case (_, s, _, _) =>
        Seq(s.docsP, s.eventsP).map(p => Option(p.durationMs.get(key)).map(_.toDouble)
          .getOrElse(0.0)).sum }.toSeq)
      // least-squares slope of step time over trigger index
      val xs = ok.map(_._1.toDouble); val ys = ok.map(_._2.ms)
      val mx = xs.sum / xs.size; val my = ys.sum / ys.size
      val slope = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
        math.max(1e-9, xs.map(x => (x - mx) * (x - mx)).sum)
      val spans = ctx.tracer.spans
      writeSpans(ctx, s"${ctx.work}/spans.json")
      phases.map { case (k, n) => s"streaming.${n}_ms" -> phase(k) }.toMap ++ Map(
        "streaming.trigger_growth_ms" -> slope,
        "streaming.rows_per_trigger" -> median(ok.map(_._2.rows.toDouble).toSeq),
        "ingest.to_long_ms" -> layerMs(spans, "ingest.to_long"),
        "core.store_bytes" -> ok.lastOption.map(_._4._1.toDouble).getOrElse(0.0),
        "core.store_files" -> ok.lastOption.map(_._4._2.toDouble).getOrElse(0.0),
        "trace.overhead_frac" -> (median(ok.filter(_._3).map(_._2.ms).toSeq) /
          median(ok.filterNot(_._3).map(_._2.ms).toSeq) - 1)
      ) ++ sparkPerOp(ctx, "trigger") ++ jvmMetrics(ctx, gc0)
    }
    Map("setup_end_ms" -> setupEnd, "window_ms" -> windowMs,
      "heap_live_mb" -> heap, "ops" -> ops, "layers" -> layers, "batches_fed" -> nextBatch)
  }

  override def teardown(): Unit = {
    Seq(docsQ, eventsQ).filter(_ != null).foreach(q => if (q.isActive) q.stop())
    spark.streams.removeListener(listener)
  }
}
