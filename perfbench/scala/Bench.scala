package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Thrown when a run must not report: the SparkContext died or a
  * warm-up request failed.
  */
final class AbortRun(msg: String) extends RuntimeException(msg)

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      smoke: Boolean, work: String)

/** Input sizes and request floors. `full` is what the benchmark
  * measures; `smoke` is a fixture-sized corpus (the `sf0.001` documents
  * table has 500 rows) that only checks every metric and every check is
  * emitted.
  */
final case class Sizes(corpusDocs: Int, ingestDocs: Int, exactWarmup: Int,
                       exactRequests: Int, annBatch: Int, annRequests: Int)

object Sizes {
  val full = Sizes(corpusDocs = 9500, ingestDocs = 1500, exactWarmup = 10,
    exactRequests = 100, annBatch = 8, annRequests = 40)
  val smoke = Sizes(corpusDocs = 500, ingestDocs = 500, exactWarmup = 2,
    exactRequests = 4, annBatch = 4, annRequests = 10)
}

/** What one workload run measured, before it becomes metrics. */
final case class Measured(setupS: Seq[Double], latencyMs: Seq[Double],
                          queries: Long, loopWallS: Double, recallAt10: Double,
                          docsPerS: Double, dedupRecall: Double, storeBytes: Long,
                          layers: Map[String, Double])

/** Per-run state shared by the workloads: the session, the tracer, and
  * the operation and failure counts every check reports into.
  */
final class Ctx(val spark: SparkSession, val o: Opts, val tr: Tracer, val size: Sizes) {
  val model = graft.functions.Md5PortableEmbedder(384)
  val listener: Option[TaskTotals] =
    if (tr.on) Some(new TaskTotals) else None
  listener.foreach(spark.sparkContext.addSparkListener)
  val codegen: Option[CodegenFallbacks] =
    if (tr.on) Some(new CodegenFallbacks().install()) else None
  val checksums = mutable.ArrayBuffer.empty[String]

  private var opsN = 0L
  private var failedN = 0L
  private val firstFailures = mutable.ArrayBuffer.empty[String]
  def ops: Long = opsN
  def failed: Long = failedN
  def failures: Seq[String] = firstFailures.toSeq

  /** Counts one operation; it failed if any problem was found. */
  def op(problems: Seq[String]): Unit = {
    opsN += 1
    if (problems.nonEmpty) {
      failedN += 1
      if (firstFailures.length < 10) firstFailures += problems.head
    }
  }

  private val counters = mutable.Map.empty[(String, String), mutable.ArrayBuffer[Double]]
  /** Records a count the current phase produced. */
  def count(name: String, v: Double): Unit =
    counters.getOrElseUpdate((name, tr.phase), mutable.ArrayBuffer.empty[Double]) += v
  def counted(name: String, phase: String): Seq[Double] =
    counters.get((name, phase)).map(_.toSeq).getOrElse(Nil)

  private val heap = mutable.ArrayBuffer.empty[Double]
  def sampleHeap(): Unit = heap += Jvm.liveHeapMb()
  def heapPeakMb: Double = heap.max

  def guard(): Unit =
    if (spark.sparkContext.isStopped) throw new AbortRun("the SparkContext stopped")

  def path(name: String): String = s"${o.work}/$name"

  def dirBytes(p: String): Long = {
    val root = java.nio.file.Paths.get(p)
    val s = java.nio.file.Files.walk(root)
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .filter(f => !f.getFileName.toString.startsWith(".") && !f.getFileName.toString.startsWith("_"))
      .mapToLong(java.nio.file.Files.size(_)).sum
    finally s.close()
  }

  /** Warm-up: every request must succeed, or the run aborts. */
  def warmup(n: Int)(req: Int => Seq[String]): Unit = {
    tr.phase = "warmup"
    (0 until n).foreach { i =>
      val problems =
        try req(i)
        catch { case e: Exception => Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      if (problems.nonEmpty) throw new AbortRun(s"warm-up request $i failed: ${problems.head}")
      guard()
    }
  }

  /** One client in a closed loop: the next request goes out when the
    * previous one returns, until the time is up, at least `min` requests
    * have run and the last `block` is whole. Returns each successful
    * request's latency and answer, the wall time and the next request
    * id. A request that throws is a failed operation and has no latency.
    */
  def closedLoop[T](seconds: Double, min: Int, first: Int, block: Int)
                   (req: Int => T): (Seq[(Double, T)], Double, Int) = {
    val done = mutable.ArrayBuffer.empty[(Double, T)]
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    var i = first
    while (System.nanoTime() < end || i - first < min || (i - first) % block != 0) {
      tr.request = i
      val s = System.nanoTime()
      try {
        val a = tr("request")(req(i))
        done += (((System.nanoTime() - s) / 1e6, a))
      } catch {
        case e: Exception =>
          guard()
          op(Seq(s"request $i: ${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
      i += 1
    }
    tr.request = -1
    guard()
    (done.toSeq, (System.nanoTime() - t0) / 1e9, i)
  }

  /** Runs the timed loop of at least `min` requests. Traced, the first
    * half (time and requests) runs untraced and the second half traced;
    * the latency ratio of the two halves is the tracing overhead, and
    * the traced half feeds the layer metrics.
    */
  def timedLoop[T](min: Int, block: Int = 1)(req: Int => T): LoopResult[T] = {
    val g0 = Jvm.gcMs
    if (!tr.on) {
      tr.phase = "loop"
      val (done, wall, _) = closedLoop(o.seconds, min, 0, block)(req)
      LoopResult(done.map(_._2), done, wall, Jvm.gcMs - g0, Double.NaN)
    } else {
      val half = (min + 1) / 2
      tr.phase = "untraced"
      tr.enabled = false
      val (plain, _, next) = closedLoop(o.seconds / 2.0, half, 0, block)(req)
      tr.enabled = true
      tr.phase = "loop"
      val g1 = Jvm.gcMs
      val (done, wall, _) = closedLoop(o.seconds / 2.0, half, next, block)(req)
      val overhead = 100.0 * (Stats.pct(done.map(_._1), 0.5) / Stats.pct(plain.map(_._1), 0.5) - 1.0)
      LoopResult(plain.map(_._2) ++ done.map(_._2), done, wall, Jvm.gcMs - g1, overhead)
    }
  }
}

/** Every successful request's answer (`all`, for the checks) and the
  * timed requests' (latency, answer): all of them untraced, the traced
  * half when traced.
  */
final case class LoopResult[T](all: Seq[T], timed: Seq[(Double, T)], wallS: Double,
                               gcMs: Long, traceOverheadPct: Double) {
  def latencyMs: Seq[Double] = timed.map(_._1)
  def n: Int = timed.length
}

object Stats {
  /** Linear-interpolated percentile, `q` in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

object Metrics {
  /** End-to-end metrics, printed by every untraced run. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "query_p50_ms" -> "ms", "query_p90_ms" -> "ms",
    "queries_per_s" -> "1/s", "recall_at_10" -> "ratio", "docs_per_s" -> "1/s",
    "dedup_recall" -> "ratio", "store_mb" -> "MB", "live_heap_peak_mb" -> "MB",
    "ok_ratio" -> "ratio")

  /** Per-layer metrics, printed by every traced run; 0 where the
    * workload does no work in that layer.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.sched_delay_ms" -> "ms", "spark.task_cpu_ms" -> "ms",
    "spark.task_run_ms" -> "ms", "spark.cpu_per_wall" -> "ratio",
    "spark.input_mb" -> "MB", "spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.codegen_fallbacks" -> "count", "spark.gc_ms" -> "ms",
    "embeddings.encode_ms" -> "ms", "embeddings.embed_df_ms" -> "ms",
    "embeddings.docs" -> "count",
    "knn.construct_ms" -> "ms", "knn.exec_ms" -> "ms",
    "serving.dispatch_ms" -> "ms", "serving.exec_ms" -> "ms",
    "serving.chosen_ivf" -> "ratio", "serving.chosen_lsh" -> "ratio",
    "serving.chosen_hnsw" -> "ratio", "serving.chosen_pq" -> "ratio",
    "nsw.build_ms" -> "ms", "nsw.router_ms" -> "ms",
    "nsw.candidates_per_query" -> "count", "nsw.rerank_kept_ratio" -> "ratio",
    "pq.fit_ms" -> "ms", "pq.write_ms" -> "ms", "pq.shortlist_per_query" -> "count",
    "ann.hybrid_write_ms" -> "ms", "ann.hybrid_open_ms" -> "ms",
    "ann.hybrid_stats_ms" -> "ms", "ann.hybrid_cells" -> "count",
    "ann.assign_ms" -> "ms",
    "dedup.exact_ms" -> "ms", "dedup.minhash_ms" -> "ms",
    "dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count",
    "dedup.verify_ratio" -> "ratio", "dedup.semantic_ms" -> "ms",
    "dedup.semantic_pairs" -> "count",
    "text.gate_ms" -> "ms", "text.kept_ratio" -> "ratio",
    "store.write_ms" -> "ms", "store.bytes" -> "bytes",
    "trace.overhead_pct" -> "%")
}
