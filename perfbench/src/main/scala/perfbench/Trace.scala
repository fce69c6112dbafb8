package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call into a layer. `op` is shared by every span of one query,
  * pass or trigger; `parent` is the enclosing span (0 at the root). */
final case class Span(id: Long, parent: Long, op: String, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work counted by the listener, per span. */
final class Counters {
  val jobs, stages, tasks, runMs, inputBytes, shuffleRead, shuffleWrite,
      spill = new AtomicLong
  def add(o: Counters): Unit = {
    jobs.addAndGet(o.jobs.get); stages.addAndGet(o.stages.get)
    tasks.addAndGet(o.tasks.get); runMs.addAndGet(o.runMs.get)
    inputBytes.addAndGet(o.inputBytes.get)
    shuffleRead.addAndGet(o.shuffleRead.get)
    shuffleWrite.addAndGet(o.shuffleWrite.get); spill.addAndGet(o.spill.get)
  }
  def toMap: Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble, "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.executor_run_ms" -> runMs.get.toDouble,
    "spark.input_bytes" -> inputBytes.get.toDouble,
    "spark.shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
    "spark.spill_bytes" -> spill.get.toDouble)
}

/** In-memory span recorder. A disabled tracer runs the body and records
  * nothing. Spans nest per thread; Spark jobs are attributed to the span
  * that was innermost open when the job started, which is exact while one
  * client drives the system (the traced run's setting). */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong
  private val done = new ConcurrentLinkedQueue[Span]
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  /** innermost open span on any thread, for listener attribution */
  @volatile private var open: Long = 0L
  val counters = new ConcurrentHashMap[Long, Counters]

  def currentSpan: Long = open

  def span[T](op: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get
      val parent = outer.headOption.map(_._1).getOrElse(0L)
      val id = ids.incrementAndGet()
      stack.set((id, op) :: outer)
      val prevOpen = open
      open = id
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, op, name, t0, System.nanoTime()))
        stack.set(outer)
        open = prevOpen
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq

  def countersOf(spanIds: Set[Long]): Counters = {
    val c = new Counters
    spanIds.foreach(id => Option(counters.get(id)).foreach(c.add))
    c
  }
}

/** Counts jobs, stages, tasks, bytes and executor time per open span. */
final class SpanListener(tracer: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]

  private def c(span: Long): Counters =
    tracer.counters.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = tracer.currentSpan
    c(span).jobs.incrementAndGet()
    e.stageIds.foreach(s => stageSpan.put(s, span))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId))
      .foreach(s => c(s).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = Option(stageSpan.get(e.stageId)).getOrElse(tracer.currentSpan)
    val k = c(span)
    k.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      k.runMs.addAndGet(m.executorRunTime)
      k.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      k.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      k.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      k.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** GC counts and time from the collector beans, and the heap a workload
  * keeps live. */
final class JvmWatch {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def gcCount: Long = gcs.map(_.getCollectionCount).sum
  def gcMs: Long = gcs.map(_.getCollectionTime).sum

  /** Heap still in use after a full collection, in MB: what the workload
    * retains (sessions, caches, stores) rather than its garbage. Spark
    * frees the blocks of unreachable broadcasts and cached frames on its
    * cleaner thread after a collection, so a second collection follows
    * once that thread has had time to run. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
