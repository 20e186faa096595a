package graft

import graft.queries.{Queries, QueryVectors}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Measures what the transparent KNN→IVF rewrite actually SAVES on the
  * read path — bytes and rows scanned plus wall-time, exact scan vs
  * probe-pruned index scan — and prints a markdown block for PLANS.md.
  * The claim it certifies: the rewrite's scan cost is ≈ nprobe/nlist of
  * the corpus (partition pruning does the work; quality is RECALL.md's
  * axis, cost is this one).
  *
  * Usage: ScanSavings <sfDir> [runs]
  */
object ScanSavings {

  case class Scanned(sec: Double, bytes: Long, files: Long, rows: Long,
                     rootBytes: Long)

  /** Runs `name` from the registry and reads its scan-node metrics. */
  def measure(spark: org.apache.spark.sql.SparkSession, name: String,
              sfDir: String, runs: Int): Scanned =
    measurePlan(spark, name, runs)(Queries.queriesMap(name)(spark, sfDir))

  /** The full scan the exact flagship reads: `knn_exact_cosine`'s
    * distance, order and limit planned directly over the parquet read.
    * `Knn.search` answers the registered query from its opened corpus,
    * which reads no files, so the scan it replaces is built here.
    */
  private def exactScan(spark: org.apache.spark.sql.SparkSession,
                        sfDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, typedLit}
    Tables.embeddings(spark, sfDir)
      .withColumn("distance_score", graft.functions.VectorFunctions.cosineDistance(
        col("embedding"), typedLit(QueryVectors.queryVec64)))
      .orderBy(col("distance_score").asc, col("vec_id").asc)
      .limit(10)
  }

  /** Runs the plan `query` builds and reads its scan-node metrics.
    * One untimed warm-up run first (index build memoization, codegen);
    * then `runs` timed runs, median wall-time, metrics from the last.
    */
  def measurePlan(spark: org.apache.spark.sql.SparkSession, name: String, runs: Int)(
      query: => org.apache.spark.sql.DataFrame): Scanned = {
    query.collect() // warm-up, untimed
    var last: org.apache.spark.sql.DataFrame = null
    val times = (1 to runs).map { _ =>
      val t0 = System.nanoTime()
      last = query
      last.collect()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    val exec = last.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // post-execution AQE plans nest work inside QueryStageExec leaves
    // (ResultQueryStage / ShuffleQueryStage) — collect() stops at the
    // stage boundary, so descend through each stage's plan explicitly
    def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p.collect {
        case s: FileSourceScanExec => Seq(s)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(q.plan)
      }.flatten
    val scans = allScans(exec)
    require(scans.nonEmpty, s"$name: no FileSourceScanExec in the plan:\n${exec.treeString}")
    def metric(s: FileSourceScanExec, m: String): Long =
      s.metrics.get(m).map(_.value).getOrElse(0L)
    // total bytes under the scanned relation's roots = the un-pruned
    // denominator (what a full scan of the same store would read)
    val hconf = spark.sparkContext.hadoopConfiguration
    val rootBytes = scans.flatMap(_.relation.location.rootPaths).distinct.map { p =>
      val fs = p.getFileSystem(hconf)
      fs.getContentSummary(p).getLength
    }.sum
    Scanned(times(times.size / 2),
      scans.map(metric(_, "filesSize")).sum,
      scans.map(metric(_, "numFiles")).sum,
      scans.map(metric(_, "numOutputRows")).sum,
      rootBytes)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val runs = if (args.length > 1) args(1).toInt else 5
    val spark = GraftSession.local()
    GraftSession.prepare(spark)

    val exact = measurePlan(spark, "knn_exact_cosine", runs)(exactScan(spark, sfDir))
    val rewrite = measure(spark, "ann_ivf_rule_rewrite", sfDir, runs)

    val mb = 1024.0 * 1024
    println(s"\n## IVF rewrite scan savings ($sfDir, nprobe=3/nlist=8)\n")
    println("| query | files read | bytes scanned | rows decoded | wall (median) |")
    println("|---|---|---|---|---|")
    println(f"| knn_exact_cosine (full scan) | ${exact.files} | ${exact.bytes / mb}%.1f MB | ${exact.rows}%,d | ${exact.sec}%.3f s |")
    println(f"| ann_ivf_rule_rewrite (pruned) | ${rewrite.files} | ${rewrite.bytes / mb}%.1f MB | ${rewrite.rows}%,d | ${rewrite.sec}%.3f s |")
    println()
    println(f"Pruned scan reads ${100.0 * rewrite.bytes / rewrite.rootBytes}%.1f%% of its " +
      f"index store's ${rewrite.rootBytes / mb}%.1f MB (expected ≈ nprobe/nlist = " +
      f"${300.0 / 8}%.1f%% by rows; byte ratio differs by per-list size skew and " +
      "encoding), and " +
      f"${100.0 * rewrite.bytes / exact.bytes}%.1f%% of the exact scan's bytes.")

    // PQ serving store: ADC over persisted (id, codes) — the compression
    // axis (IVF above is the pruning axis; a production index uses both)
    val pq = measure(spark, "ann_pq_store_adc", sfDir, runs)
    println(s"\n## PQ codes-store scan savings ($sfDir, m=8 × ksub=16 over 64-d)\n")
    println("| query | files read | bytes scanned | rows decoded | wall (median) |")
    println("|---|---|---|---|---|")
    println(f"| knn_exact_cosine (vector store) | ${exact.files} | ${exact.bytes / mb}%.1f MB | ${exact.rows}%,d | ${exact.sec}%.3f s |")
    println(f"| ann_pq_store_adc (codes store) | ${pq.files} | ${pq.bytes / mb}%.1f MB | ${pq.rows}%,d | ${pq.sec}%.3f s |")
    println()
    println(f"ADC reads ${100.0 * pq.bytes / exact.bytes}%.1f%% of the vector scan's bytes " +
      "(both scans decode every row — PQ compresses, IVF prunes).")

    // IVF-PQ composed store: cluster-partitioned codes — BOTH axes in
    // one layout (probe filter prunes partitions, rows carry 8-byte
    // codes instead of vectors)
    val ivfpq = measure(spark, "ann_ivfpq_adc", sfDir, runs)
    println(s"\n## IVF-PQ composed-store scan savings ($sfDir, nprobe=3/nlist=8, m=8 × ksub=16)\n")
    println("| query | files read | bytes scanned | rows decoded | wall (median) |")
    println("|---|---|---|---|---|")
    println(f"| knn_exact_cosine (vector store) | ${exact.files} | ${exact.bytes / mb}%.1f MB | ${exact.rows}%,d | ${exact.sec}%.3f s |")
    println(f"| ann_ivfpq_adc (probed codes store) | ${ivfpq.files} | ${ivfpq.bytes / mb}%.1f MB | ${ivfpq.rows}%,d | ${ivfpq.sec}%.3f s |")
    println()
    println(f"The probed IVF-PQ scan reads ${100.0 * ivfpq.bytes / ivfpq.rootBytes}%.1f%% of its own " +
      f"${ivfpq.rootBytes / mb}%.1f MB codes store (partition pruning ≈ nprobe/nlist) and " +
      f"${100.0 * ivfpq.bytes / exact.bytes}%.2f%% of the raw vector scan's bytes — " +
      "the pruning and compression axes compose multiplicatively in one layout.")
    spark.stop()
  }
}
