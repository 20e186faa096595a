package perfbench

/** Runs one workload and prints its metrics. The last line of standard
  * output is one JSON object:
  * `{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}`
  * — the end-to-end metrics when untraced, the per-layer metrics when
  * traced. Exits non-zero without that line when the run is invalid.
  *
  * {{{
  * perfbench.Main --workload rag_exact --seed 1 --seconds 10 --trace 0 \
  *   --work <scratch dir> --spans <dir> [--smoke]
  * }}}
  */
object Main {
  val workloads: Map[String, Ctx => Measured] = Map(
    "rag_exact" -> RagExact.run, "rag_ann" -> RagAnn.run)

  private def parse(args: Array[String]): (Opts, String) = {
    def arg(name: String): String = {
      val i = args.indexOf(name)
      require(i >= 0 && i + 1 < args.length, s"missing $name")
      args(i + 1)
    }
    val o = Opts(arg("--workload"), arg("--seed").toLong, arg("--seconds").toInt,
      arg("--trace") == "1", args.contains("--smoke"), arg("--work"))
    require(workloads.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds >= 1, "--seconds must be at least 1")
    (o, arg("--spans"))
  }

  private def num(v: Double): String = {
    if (v.isNaN || v.isInfinite) throw new AbortRun(s"a metric is $v")
    java.lang.Double.toString(v)
  }
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val (o, spansDir) = parse(args)
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(Runtime.getRuntime.availableProcessors())
    System.err.println(f"perfbench: session started in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val code =
      try {
        run(o, spansDir, spark)
        0
      } catch {
        case e: AbortRun =>
          System.err.println(s"perfbench: run aborted: ${e.getMessage}")
          3
        case e: Throwable =>
          e.printStackTrace()
          2
      } finally spark.stop()
    System.exit(code)
  }

  private def run(o: Opts, spansDir: String, spark: org.apache.spark.sql.SparkSession): Unit = {
    val tr = new Tracer(o.trace, spark.sparkContext)
    val c = new Ctx(spark, o, tr, if (o.smoke) Sizes.smoke else Sizes.full)
    val m = workloads(o.workload)(c)
    tr.phase = "report"
    c.guard()

    val n = m.latencyMs.length
    val e2e: Map[String, Double] = Map(
      "setup_s" -> Stats.median(m.setupS),
      "query_p50_ms" -> Stats.pct(m.latencyMs, 0.5),
      "query_p90_ms" -> Stats.pct(m.latencyMs, 0.9),
      "queries_per_s" -> m.queries / m.loopWallS,
      "recall_at_10" -> m.recallAt10,
      "docs_per_s" -> m.docsPerS,
      "dedup_recall" -> m.dedupRecall,
      "store_mb" -> m.storeBytes / 1048576.0,
      "live_heap_peak_mb" -> c.heapPeakMb,
      "ok_ratio" -> (1.0 - c.failed.toDouble / c.ops))

    val env = Seq(
      "workload" -> str(o.workload), "seed" -> o.seed.toString, "seconds" -> o.seconds.toString,
      "trace" -> o.trace.toString, "smoke" -> o.smoke.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jdk" -> str(System.getProperty("java.version")),
      "spark" -> str(org.apache.spark.SPARK_VERSION),
      "scala" -> str(scala.util.Properties.versionNumberString),
      "input_checksums" -> c.checksums.map(str).mkString("[", ",", "]"),
      "requests" -> n.toString, "setups" -> m.setupS.length.toString,
      "fail_ratio" -> num(c.failed.toDouble / c.ops))
    println("env " + env.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}"))
    c.failures.foreach(f => println(s"failure $f"))

    println(s"end_to_end ${o.workload} (requests=$n, setups=${m.setupS.length})")
    Metrics.endToEnd.foreach { case (k, u) => println(f"  $k%-20s ${e2e(k)}%14.4f $u") }
    val shown =
      if (!o.trace) Metrics.endToEnd.map { case (k, u) => (k, e2e(k), u) }
      else {
        println(s"per_layer ${o.workload} (traced requests=$n)")
        Metrics.perLayer.foreach { case (k, u) => println(f"  $k%-28s ${m.layers(k)}%14.4f $u") }
        println(s"self_ms per traced request ${o.workload}")
        tr.selfMs("loop").toSeq.sortBy(-_._2).foreach { case (k, v) =>
          println(f"  $k%-28s ${v / math.max(1, n)}%14.4f ms")
        }
        val dir = java.nio.file.Paths.get(spansDir)
        java.nio.file.Files.createDirectories(dir)
        tr.writeJsonLines(dir.resolve(s"${o.workload}-seed${o.seed}.jsonl"))
        Metrics.perLayer.map { case (k, u) => (k, m.layers(k), u) }
      }
    val metrics = shown.map { case (k, v, u) =>
      s"${str(k)}:{${str("value")}:${num(v)},${str("unit")}:${str(u)}}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":${c.failed == 0},"attempted":${c.ops},"failed":${c.failed},"metrics":$metrics}""")
  }
}
