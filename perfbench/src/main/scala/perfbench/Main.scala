package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its generated inputs, a
  * scratch directory, the measuring window and the instruments. */
final case class Ctx(spark: SparkSession, inputs: String, work: String,
                     seconds: Double, cores: Int, tracer: Tracer, jvm: JvmWatch,
                     manifest: Map[String, Any]) {
  def input(name: String): String = s"$inputs/$name"
  def dir(name: String): String = {
    val d = s"$work/$name"
    Files.createDirectories(Paths.get(d))
    d
  }
  def trace: Boolean = tracer.enabled

  /** Runs one operation; a non-fatal failure is logged and returned as
    * Left, so it counts as attempted but never as a time. */
  def attempt[T](what: String)(body: => T): Either[String, T] =
    try Right(body)
    catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $what failed: $e")
        Left(String.valueOf(e.getMessage).take(300))
    }

  /** Blocks until the listener has seen every job posted so far. */
  def waitBus(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

/** One workload: set-up (untimed by the window, but inside setup_s), then
  * a closed loop until the window ends. The result map is written as JSON
  * for the runner, which checks outputs and derives the metrics. */
trait Workload {
  def setup(): Unit
  def measure(): Map[String, Any]
  def teardown(): Unit = ()
}

object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val jvmStart = now()
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = opts("work")
    val cores = opts.getOrElse("cores", "4").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // the library's collect_set aggregations (global index) hold far
      // more than 128 groups; the same setting its own bench uses
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // keep Spark's own job/SQL history small, so the live heap is the
      // workload's rather than a record of how many jobs it ran
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(opts("trace") == "1")
    if (tracer.enabled) spark.sparkContext.addSparkListener(new SpanListener(tracer))
    val inputs = opts("inputs")
    val manifest = json.readValue(new File(s"$inputs/manifest.json"),
      classOf[Map[String, Any]])
    val ctx = Ctx(spark, inputs, work, opts("seconds").toDouble, cores, tracer,
      new JvmWatch, manifest)
    val workload: Workload = opts("workload") match {
      case "query_service" => new QueryService(ctx)
      case "curation_batch" => new CurationBatch(ctx)
      case "stream_ingest" => new StreamIngest(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    System.err.println(s"[perfbench] session up after ${msSince(jvmStart) / 1000} s")
    val result =
      try {
        workload.setup()
        System.err.println(s"[perfbench] set-up done after ${msSince(jvmStart) / 1000} s")
        workload.measure()
      } finally workload.teardown()
    Files.write(Paths.get(opts("out")),
      json.writeValueAsString(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  // ------------------------------------------------------------ helpers

  def now(): Long = System.nanoTime()
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Runs a set-up step and logs its wall time to stderr. */
  def logged[T](what: String)(body: => T): T = {
    val t0 = now()
    try body finally System.err.println(f"[perfbench] $what: ${msSince(t0)}%.0f ms")
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Untimed warm-up: runs `round` (which returns its time in ms) exactly
    * `rounds` times and logs each time, so every run starts its window
    * from the same state. */
  def warmUp(what: String, rounds: Int)(round: Int => Double): Unit =
    for (n <- 0 until rounds)
      System.err.println(f"[perfbench] warm-up $what $n: ${round(n)}%.0f ms")

  /** Spans grouped per layer name: median duration over the ops traced. */
  def layerMs(spans: Seq[Span], name: String): Double =
    median(spans.filter(_.name == name).map(_.ms))

  /** Listener counters per traced op, averaged, plus the slot share the
    * executors were busy during those ops. */
  def sparkPerOp(ctx: Ctx, opRoot: String): Map[String, Double] = {
    ctx.waitBus()
    val spans = ctx.tracer.spans
    val roots = spans.filter(_.name == opRoot)
    if (roots.isEmpty) return Map.empty
    val ops = roots.map(_.op).toSet
    val c = ctx.tracer.countersOf(spans.filter(s => ops(s.op)).map(_.id).toSet)
    val wallMs = roots.map(_.ms).sum
    c.toMap.map { case (k, v) => k -> v / roots.size } +
      ("spark.slot_busy_frac" -> c.runMs.get / (wallMs * ctx.cores))
  }

  /** The spans, written beside the result for inspection. */
  def writeSpans(ctx: Ctx, file: String): Unit = {
    ctx.waitBus()
    val rows = ctx.tracer.spans.sortBy(_.startNs).map { s =>
      val c = Option(ctx.tracer.counters.get(s.id)).map(_.toMap).getOrElse(Map.empty)
      Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++ c
    }
    Files.write(Paths.get(file),
      json.writeValueAsString(rows).getBytes(StandardCharsets.UTF_8))
  }

  def jvmMetrics(ctx: Ctx, gc0: (Long, Long)): Map[String, Double] = Map(
    "jvm.gc_count" -> (ctx.jvm.gcCount - gc0._1).toDouble,
    "jvm.gc_ms" -> (ctx.jvm.gcMs - gc0._2).toDouble)
}
