package perfbench

/** Per-layer metrics from the traced run's spans, counts and Spark
  * task totals. A span or count from the timed loop is averaged per
  * occurrence; a layer the loop never called is reported as the median
  * over set-up, else over the ingest passes; a layer none of them
  * called reports 0.
  */
object Layers {
  private val spanMetric: Seq[(String, String)] = Seq(
    "embeddings.encode_ms" -> "embeddings.encode",
    "embeddings.embed_df_ms" -> "embeddings.embedDataFrame",
    "knn.construct_ms" -> "knn.construct",
    "knn.exec_ms" -> "knn.exec",
    "serving.dispatch_ms" -> "serving.dispatch",
    "serving.exec_ms" -> "serving.exec",
    "nsw.build_ms" -> "nsw.build",
    "nsw.router_ms" -> "nsw.shardCentroids",
    "pq.fit_ms" -> "pq.fitCodebooks",
    "pq.write_ms" -> "pq.writeEncoded",
    "ann.hybrid_write_ms" -> "ann.writeHybridIndexed",
    "ann.hybrid_open_ms" -> "ann.readIndexed",
    "ann.hybrid_stats_ms" -> "ann.cellCounts",
    "ann.assign_ms" -> "ann.assignClusters",
    "dedup.exact_ms" -> "dedup.exactDropIds",
    "dedup.minhash_ms" -> "dedup.minhash",
    "dedup.semantic_ms" -> "dedup.semanticPruneFlags",
    "text.gate_ms" -> "text.gate",
    "store.write_ms" -> "store.write")

  private val countMetric: Seq[String] = Seq(
    "embeddings.docs", "nsw.candidates_per_query", "nsw.rerank_kept_ratio",
    "pq.shortlist_per_query", "ann.hybrid_cells", "dedup.candidate_pairs",
    "dedup.verified_pairs", "dedup.verify_ratio", "dedup.semantic_pairs",
    "text.kept_ratio", "store.bytes")

  private val phases = Seq("loop", "setup", "ingest")

  /** Values per phase of `phases`: the loop's mean, else the median of
    * the first phase that has values, else 0.
    */
  private def firstCalled(byPhase: Seq[Seq[Double]]): Double =
    byPhase.zipWithIndex.collectFirst {
      case (xs, 0) if xs.nonEmpty => Stats.mean(xs)
      case (xs, _) if xs.nonEmpty => Stats.median(xs)
    }.getOrElse(0.0)

  def report(c: Ctx, loop: LoopResult[_]): Map[String, Double] =
    if (!c.tr.on) Map.empty
    else {
      org.apache.spark.ListenerBusDrain(c.spark.sparkContext)
      val tr = c.tr
      val n = math.max(1, loop.n).toDouble
      val spans = spanMetric.map { case (m, s) =>
        m -> firstCalled(phases.map(p => tr.named(s, p).map(_.ms)))
      }
      val counts = countMetric.map { m =>
        m -> firstCalled(phases.map(c.counted(m, _)))
      }
      val chosen = Seq("ivf", "lsh", "hnsw", "pq").map { f =>
        s"serving.chosen_$f" -> c.counted(s"serving.chosen_$f", "loop").length / n
      }
      val loopSpans = tr.spans.iterator.filter(_.phase == "loop").map(_.id).toSet
      val t = c.listener.get.total(loopSpans)
      val spark = Seq(
        "spark.jobs" -> t.jobs / n, "spark.stages" -> t.stages / n, "spark.tasks" -> t.tasks / n,
        "spark.sched_delay_ms" -> t.schedMs / n, "spark.task_cpu_ms" -> t.cpuNs / 1e6 / n,
        "spark.task_run_ms" -> t.runMs / n,
        "spark.cpu_per_wall" -> t.cpuNs / 1e9 / loop.wallS,
        "spark.input_mb" -> t.inputB / 1048576.0 / n,
        "spark.shuffle_mb" -> t.shuffleB / 1048576.0 / n,
        "spark.spill_mb" -> t.spillB / 1048576.0 / n,
        "spark.codegen_fallbacks" -> c.codegen.get.count.get.toDouble,
        "spark.gc_ms" -> loop.gcMs / n)
      (spark ++ spans ++ counts ++ chosen :+ ("trace.overhead_pct" -> loop.traceOverheadPct)).toMap
    }
}
