package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.core.Tables
import graft.operators.{Dedup, Sampling, TextOps, VectorOps}

/** What one curation pass produced, collected after its clock stopped. */
final case class PassOut(ms: Double, minhashIn: Array[Long],
                         pairs: Array[(Long, Long)], kept: Array[Long],
                         split: Array[(Long, Long, String)], pq: Array[(Long, Long)])

/** The LLM-data curation batch: quality filter, exact dedup, MinHash-LSH
  * near-dup pairs, clusters, keep-best, a leak-free split and a PQ top-k
  * batch, one pass per corpus. Each step's result is persisted and counted
  * before the next, as a pipeline whose intermediates feed two consumers
  * would; that is also what lets each step be timed from outside. */
final class CurationBatch(ctx: Ctx) extends Workload {
  import Main._

  private val spark = ctx.spark
  private val probes = ctx.manifest("probes").asInstanceOf[Seq[Seq[Int]]]
    .map(_.map(_.toLong))
  private var emb: DataFrame = _
  private var codes: DataFrame = _
  private var books: Seq[Seq[Seq[Double]]] = _
  private var corpusDocs = 0L

  def setup(): Unit = {
    emb = Tables.embeddings(spark, ctx.inputs)
    // the PQ index is write-once, read-many: trained and encoded at set-up
    val index = ctx.dir("pq-index")
    logged("pq index")(VectorOps.pqWriteIndex(emb, index, m = 8, codeK = 16, iters = 2))
    val (c, b) = VectorOps.pqReadIndex(spark, index)
    codes = c; books = b
    corpusDocs = spark.read.parquet(ctx.input("corpus.parquet")).count()
    // untimed passes over a smaller corpus of the same shape; a pass takes
    // about 14, 7.5, 5.7, 5.6 s over the first four on a 4-core box, so
    // after two the timed ones are within a few percent of settled
    val warm = ctx.input("warm_corpus.parquet")
    warmUp("pass", 2) { n =>
      val t0 = now()
      pass(warm, probes.last, s"warm$n", off)
      msSince(t0)
    }
  }

  private val off = new Tracer(false)

  private def pass(corpus: String, probeIds: Seq[Long], op: String, tr: Tracer)
      : PassOut = {
    val held = ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); held += p; p }
    try {
      val t0 = now()
      val (exact, pairs, kept, split, pq) = tr.span(op, "pass") {
        val docs = spark.read.parquet(corpus)
        val quality = tr.span(op, "operators.quality") {
          keep(TextOps.qualityFilter(docs, minTokens = 20, maxTokens = 200,
            carry = Seq("source", "text")).filter(col("keep")))
        }
        val exact = tr.span(op, "operators.exact") {
          keep(Dedup.exactKeep(quality.select("doc_id", "source", "text")))
        }
        val pairs = tr.span(op, "operators.minhash_pairs") {
          val p = Dedup.minhashLshPairs(exact, n = 3, threshold = 0.8)
          held += p
          p
        }
        val clusters = tr.span(op, "operators.clusters")(keep(Dedup.clusters(pairs)))
        val kept = tr.span(op, "operators.keep_best") {
          keep(Dedup.keepBestPerCluster(exact, clusters,
            quality = TextOps.alphaChars(col("text"))))
        }
        // every exact survivor is split, not only the kept ones, so the
        // near-duplicates keep-best folds together must share a split
        val split = tr.span(op, "operators.split") {
          keep(Sampling.splitAssignLeakFree(exact.select("doc_id"), clusters, "doc_id",
            Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), salt = op)
            .select("doc_id", "cluster_id", "split"))
        }
        val pq = tr.span(op, "operators.pq_topk") {
          VectorOps.pqTopKBatch(emb, codes, books, probeIds, k = 10, shortlist = 400)
            .select("probe_id", "vec_id").collect()
        }
        (exact, pairs, kept, split, pq)
      }
      val ms = msSince(t0)
      PassOut(ms,
        exact.select("doc_id").collect().map(_.getLong(0)),
        pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))),
        kept.select("doc_id").collect().map(_.getLong(0)),
        split.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))),
        pq.map(r => (r.getLong(0), r.getLong(1))))
    } finally held.foreach(_.unpersist())
  }

  /** Passes per run: about six seconds each on a 4-core box, so every
    * run and every build times the same passes. The traced run needs four,
    * traced in the middle two, so drift between passes cancels out of the
    * tracing overhead. */
  private def passesFor(seconds: Double): Int = {
    val n = math.max(1, math.round(seconds / 6).toInt)
    if (ctx.trace) math.max(4, n) else n
  }

  def measure(): Map[String, Any] = {
    val gc0 = (ctx.jvm.gcCount, ctx.jvm.gcMs)
    val setupEnd = System.currentTimeMillis()
    val corpus = ctx.input("corpus.parquet")
    val ops = ArrayBuffer.empty[(Int, Either[String, PassOut])]
    val times = ArrayBuffer.empty[(Boolean, Double)]
    val t0 = now()
    for (i <- 0 until passesFor(ctx.seconds)) {
      val traced = ctx.trace && (i % 4 == 1 || i % 4 == 2)
      val r = ctx.attempt(s"pass $i")(pass(corpus, probes(i % probes.size), s"p$i",
        if (traced) ctx.tracer else off))
      r.foreach(p => times += ((traced, p.ms)))
      ops += ((i, r))
    }
    val windowMs = msSince(t0)
    val records = ops.toSeq.map {
      case (i, Right(p)) =>
        // the exact top-k the PQ answer is checked against, after the window
        val exact = VectorOps.bruteForceTopKBatch(emb, probes(i % probes.size), k = 10)
          .select("probe_id", "vec_id").collect().map(r => Seq(r.getLong(0), r.getLong(1)))
        Map("pass" -> i, "ok" -> true, "ms" -> p.ms, "docs" -> corpusDocs,
          "minhash_in" -> p.minhashIn, "pairs" -> p.pairs.map(x => Seq(x._1, x._2)),
          "kept" -> p.kept,
          "split" -> p.split.map(x => Seq(x._1, x._2, x._3)),
          "pq" -> p.pq.map(x => Seq(x._1, x._2)), "exact_topk" -> exact)
      case (i, Left(err)) => Map("pass" -> i, "ok" -> false, "error" -> err)
    }
    val heap = ctx.jvm.liveHeapMb()
    val layers = if (!ctx.trace) jvmMetrics(ctx, gc0) else {
      val spans = ctx.tracer.spans
      val steps = Seq("quality", "exact", "minhash_pairs", "clusters", "keep_best",
        "split", "pq_topk")
      writeSpans(ctx, s"${ctx.work}/spans.json")
      steps.map(s => s"operators.${s}_ms" -> layerMs(spans, s"operators.$s")).toMap ++
        Map("trace.overhead_frac" ->
          (median(times.filter(_._1).map(_._2).toSeq) /
            median(times.filterNot(_._1).map(_._2).toSeq) - 1)) ++
        sparkPerOp(ctx, "pass") ++ jvmMetrics(ctx, gc0)
    }
    Map("setup_end_ms" -> setupEnd, "window_ms" -> windowMs,
      "heap_live_mb" -> heap, "ops" -> records, "layers" -> layers)
  }
}
