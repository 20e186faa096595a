package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** Execute EVERY column of the result: the noop sink consumes whole
    * rows, so projection-heavy queries (txt_*, mm_*) pay their real
    * cost. `.count()` would let Catalyst prune any column that doesn't
    * affect the row count — a profiling lie.
    */
  private def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_ONLY=a,b,c — solo/subset adjudication runs: time just
    // the named queries in an otherwise-identical fresh-JVM session
    // (the round-13/14 lesson: a >1.3x full-suite mover must be
    // re-measured solo before it can be called a regression). Warmups
    // are filtered to the same subset so a solo run stays solo.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // SPARK_GRAFT_NOWARM=1 — skip ALL warmups: for multi-minute probe
    // runs at synthesized decades (sf100) where a generic warmup like
    // dedup_clusters costs more than the probed queries and the few
    // seconds of bootstrap inside the first timing are noise
    val noWarm = sys.env.get("SPARK_GRAFT_NOWARM").contains("1")
    // SPARK_GRAFT_SHUFFLE — shuffle-partition override for synthesized-
    // decade probes: the per-round bench pins partitions = cores (right
    // for sf0.1), but a fixed 32 at sf100 spills (ml_frequent_triples
    // measured 202x/3 decades from exactly this); a cluster scales
    // partitions with data (AQE initialPartitionNum), and the probe
    // must be able to, too
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // a typo'd name in SPARK_GRAFT_ONLY would otherwise be silently
    // dropped and the run would emit an empty/partial artifact that
    // reads like a measurement — abort on unknown names instead
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    // untimed warmup: session bootstrap, parquet footer reads, codegen
    // JIT — once per distinct input pipeline (vector, text projection,
    // shingle-join/cluster-loop, relational lineitem/orders join-agg).
    // Without the relational entry the alphabetically-first lineitem
    // query pays the whole codegen+footer warmup inside its timing.
    // ann_ivf_rule_rewrite's warmup run also performs the one-time IVF
    // index build+write (memoized per JVM) so the timed run measures
    // the probed READ path, not the write; stream_ingest_dedup likewise
    // runs its one-time AvailableNow stream here so the timed number is
    // the corpus read, not the replay
    // ann_pq_adc's warmup performs the one-time per-JVM codebook fit
    // (8 subspace KMeans runs, memoized in PqStore) so the timed runs
    // of both PQ queries measure the encode+ADC scan, not model fitting;
    // ann_ivfpq_adc likewise fits its residual codebooks AND writes the
    // cluster-partitioned codes store here (measured 12.9 s of fit+write
    // inside the timed run before this entry existed)
    // vec_pca_knn's warmup runs the one-time moment-pass + Jacobi fit
    // (PcaStore) and maint_ivf_append its one-time store build+append
    // the four generic pipeline warmups: session bootstrap, codegen JIT,
    // parquet footer reads — they ALWAYS run (even under ONLY) because
    // they are what makes a solo timing comparable to a full-run timing
    val alwaysWarm = Set("knn_exact_cosine", "txt_stats", "dedup_clusters",
      "q1_pricing_summary")
    // store-build warmup → the queries that READ its store. Under
    // SPARK_GRAFT_ONLY the warmup runs when ANY consumer is in the
    // subset — otherwise a solo timing of e.g. graph_sssp_weighted would
    // absorb the one-time co-purchase edge build that the full-suite
    // timing never pays, systematically inflating exactly the solo
    // adjudications the ONLY mode exists for. Warmups not listed here
    // warm only themselves. (The LPA labels memo is deliberately NOT a
    // store here: the 8 rounds ARE graph_label_propagation's algorithm,
    // so modularity/louvain solo runs pay the labels build just as the
    // alphabetical full run makes LPA itself pay it.)
    val warmupConsumers: Map[String, Set[String]] = Map(
      // trade-graph store (weighted + selective + undirected derivations)
      "graph_pagerank_nations" -> Set("graph_pagerank_nations",
        "graph_hits_nations", "graph_bfs_nations", "graph_closeness_nations",
        "graph_eccentricity_nations", "graph_betweenness_approx",
        "graph_triangle_count", "graph_clustering_coefficient",
        "graph_reciprocity", "graph_random_walks", "graph_walk_skipgrams"),
      // support-2 co-purchase edge store
      "graph_kcore" -> Set("graph_kcore", "graph_label_propagation",
        "graph_modularity", "graph_louvain_refine", "graph_sssp_weighted",
        "graph_ppr_parts", "graph_link_prediction", "graph_rich_club"),
      // support-1 co-purchase edge store
      "ml_item_cooccurrence" -> Set("ml_item_cooccurrence",
        "graph_degree_assortativity"),
      // shared transition-count store (one lag-window pass, two readers)
      "ev_markov_transitions" -> Set("ev_markov_transitions",
        "ev_markov_stationary"),
      // PQ codebook fit (PqStore) feeds every PQ consumer. r22: the
      // cost-serving gates also read the fit (PqStore/PqCodeStore) —
      // without these entries a SOLO run of a PQ gate absorbed the ~9 s
      // codebook fit inside its timing (measured 10.9 s solo vs 2.2 s
      // with the warmup), exactly the skew the consumer map exists to
      // prevent.
      // Full-suite timings are unaffected (warmups always run there).
      "ann_pq_adc" -> Set("ann_pq_adc", "ann_pq_rescore", "ann_pq_batch",
        "ann_pq_store_adc", "stream_serve_pq", "ann_cost_serving4",
        "ann_cost_serving_filtered", "ann_cost_serving_calibrated",
        "ann_cost_serving_batch", "ann_cost_serving_batch_filtered",
        "stream_serve_auto"),
      // persisted IVF index + catalog registration
      "ann_ivf_rule_rewrite" -> Set("ann_ivf_rule_rewrite",
        "knn_filtered_ivf_rewrite"),
      // sharded NSW graph store (the streaming serve path beams over it)
      "ann_nsw_beam" -> Set("ann_nsw_beam", "stream_serve_nsw"),
      // sharded HNSW store (beam + routed + filtered + the serving
      // router's hnsw branch all read it)
      "ann_hnsw_beam" -> Set("ann_hnsw_beam", "ann_hnsw_routed",
        "knn_filtered_hnsw", "ann_cost_serving"),
      // per-shard router centroids (one bounded rollup over the store)
      "ann_hnsw_routed" -> Set("ann_hnsw_routed", "ann_cost_serving"),
      // hybrid two-level store + its per-partition stats
      "ann_cost_rewrite" -> Set("ann_cost_rewrite", "ann_cost_serving"))
    val warmupTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // a warmup that THREW did not build its store: its elapsed time must
    // not be reported as a normal-looking cost line (the artifact would
    // read "store built" when it wasn't, and the downstream timed queries
    // would silently pay the build inside their timings) — failed builds
    // are excluded from the stores map/total and named in stores_failed
    val warmupFailed = scala.collection.mutable.ArrayBuffer.empty[String]
    Seq("knn_exact_cosine", "txt_stats", "dedup_clusters", "q1_pricing_summary",
        "ann_ivf_rule_rewrite", "ann_ivf_kmeans_rewrite", "ann_lsh_rule_rewrite",
        // ann_nsw_beam's warmup performs the one-time sharded NSW graph
        // build+write so the timed run measures the beam-search READ path
        "ann_nsw_beam",
        // ann_cost_rewrite's warmup performs the one-time hybrid
        // cluster_id/lsh_bucket two-level-partitioned store build+write
        // (up to nlist·2^nBits directories — measured 19.1 s inside the
        // timed run before this entry) so the timed run measures the
        // cost-chosen probed READ path
        "ann_cost_rewrite",
        // ann_hnsw_beam's warmup performs the one-time sharded layered-
        // graph build+write (HnswStore — now read by four queries);
        // ann_hnsw_routed's additionally runs the one-time per-shard
        // centroid rollup (HnswRouterStore) the router and the serving
        // choice both read
        "ann_hnsw_beam", "ann_hnsw_routed",
        "ann_pq_adc", "ann_ivfpq_adc", "vec_pca_knn", "maint_ivf_append",
        // vec_kmeans_elbow's warmup performs its one-time per-JVM
        // four-k KMeans fits (ElbowStore) so the timed run measures the
        // four codegen'd inertia projections, not model fitting — the
        // same policy as the PQ codebook and PCA moment fits above
        "vec_kmeans_elbow",
        // the shared edge-build memos are the same one-time-artifact
        // class: graph_pagerank_nations builds the trade-graph store
        // (one fact join) for the six nation-graph consumers +
        // triangle/clustering derivations; graph_kcore builds the
        // support-2 co-purchase store (LPA/SSSP/modularity/Louvain/
        // link-prediction/PPR share it); ml_item_cooccurrence builds
        // the support-1 store (assortativity shares it). Timed runs
        // then measure each query's own algorithm over the store READ,
        // not whichever query happened to run first alphabetically.
        // (The LPA labels memo is deliberately NOT warmed: the 8
        // rounds ARE graph_label_propagation's algorithm.)
        "graph_pagerank_nations", "graph_kcore", "ml_item_cooccurrence",
        // ev_markov_transitions' warmup builds the shared transition-
        // count store (one user-keyed lag-window pass over every event
        // — ~300 s at sf100) read by both markov consumers
        "ev_markov_transitions",
        // maint_nsw_append's warmup performs the one-time base build +
        // incremental insert + staged rewrite (NswAppendStore) so the
        // timed run measures the appended-store READ path
        "maint_nsw_append",
        "vec_bq_hamming_rescore", "stream_ingest_dedup", "stream_serve_knn",
        // stream_serve_nsw's warmup drains its one-time MemoryStream
        // serving run (NswServeStore) so the timed run measures the
        // sink-table read, not the stream replay
        "stream_serve_nsw",
        "maint_compact_roundtrip", "maint_zorder_roundtrip",
        // one-time store builds for the vacuum / schema-evolution /
        // csv / json gates — timed runs then measure the post-write
        // READ path like compact/zorder
        "maint_vacuum", "maint_schema_evolution",
        // src_bucketed_join's warmup writes the one-time bucketed
        // external tables so the timed run measures the co-located join
        "src_csv_roundtrip", "src_json_roundtrip", "src_orc_roundtrip",
        // src_jdbc_roundtrip's warmup performs the one-time embedded-
        // Derby database build (batched JDBC inserts) so the timed run
        // measures the partitioned JDBC READ path
        "src_jdbc_roundtrip",
        "src_bucketed_join", "maint_mor_merge",
        // stream_trending_topk's warmup runs its one-time complete-mode
        // trending stream (TrendingStore) so the timed run measures the
        // snapshot read + rank, not the stream replay
        "stream_trending_topk",
        // stream_hll_daily's warmup runs the one-time register stream
        // (HllStreamStore) so the timed run measures the estimate over
        // the final register snapshot, not the two-batch replay
        "stream_hll_daily")
      // under SPARK_GRAFT_ONLY: the four generic pipeline warmups ALWAYS
      // run (without them the solo query absorbs session bootstrap,
      // codegen JIT and footer reads: measured 11.2 s vs 5.1 s on
      // ml_naive_bayes); a store-build warmup runs when ANY consumer of
      // its store is in the subset (warmupConsumers above)
      .filter(w => !noWarm && only.forall(o => alwaysWarm.contains(w) ||
        warmupConsumers.getOrElse(w, Set(w)).exists(o.contains)))
      .foreach { w =>
        // each warmup is TIMED (build + one consume of the query) and
        // reported as the "stores" map in the artifact: the per-query
        // numbers stay clean, but the one-time builds' cost — ~4.5 s for
        // the trade graph at sf0.1, 300-490 s at sf100 — is a line item
        // a deployment decision needs, not prose. totals = timed + stores.
        val w0 = System.nanoTime()
        try {
          consume(SparkEntry.queries(w)(spark, sfDir))
          warmupTimes(w) = (System.nanoTime() - w0) / 1e9
        } catch { case e: Throwable =>
          warmupFailed += w
          System.err.println(s"[bench] WARMUP FAILED $w: ${e.getMessage}")
        }
        spark.catalog.clearCache()
      }
    val queryFailed = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      // a dead context would make every remaining query fast-fail in the
      // catch below and the artifact would report a fleet of 0.02 s
      // "timings" — abort instead of lying (seen once: an executor OOM
      // stopped the context mid-run and 88 queries "finished" in 2.3 s)
      require(!spark.sparkContext.isStopped,
        s"SparkContext died before $name — benchmark run is invalid")
      val t0 = System.nanoTime()
      try consume(fn(spark, sfDir)) catch { case e: Throwable =>
        // same policy as warmups: a crashed query must be NAMED in the
        // artifact, not pass off its fast-fail elapsed as a timing
        queryFailed += name
        System.err.println(s"[bench] QUERY FAILED $name: ${e.getMessage}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // drop every cache the query left behind — retained blocks would
      // build memory pressure across the 40+ query session and turn
      // later timings into eviction noise
      spark.catalog.clearCache()
      // inter-trial GC (JMH-style): localCheckpoint blocks are freed by
      // ContextCleaner only after the driver references are COLLECTED,
      // and in a large heap that happens mid-way through some LATER
      // query's timing — measured at sf10: a 6 s scan query right after
      // the dedup family timed 184 s from inherited GC debt
      System.gc()
      System.err.println(f"[bench] $name%-32s $sec%8.2f s")
      name -> sec
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // untimed-warmup line items: each entry is the one-time store build
    // (plus one consume of the builder query) that the timed numbers no
    // longer pay. Total cost of a cold run = value + stores_total.
    val storesJson = warmupTimes.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val storesTotal = warmupTimes.values.sum
    val failedJson = (warmupFailed.map("\"" + _ + "\"") ++
      queryFailed.map("\"" + _ + "\"")).mkString("[", ",", "]")
    // coverage lock (round-16 drift: a query landed after the final bench
    // and shipped unbenched): a full run's artifact must cover EXACTLY
    // the registered surface — if it can't, the run aborts rather than
    // emitting an artifact that underreports the query set
    if (only.isEmpty)
      require(results.size == SparkEntry.queries.size,
        s"bench covered ${results.size} of ${SparkEntry.queries.size} registered queries")
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","n_registered":${SparkEntry.queries.size},"queries":$qs,"stores":$storesJson,"stores_total":$storesTotal,"failed":$failedJson,"sf":"$sfDir"}"""
    // full per-query map → file (committed per round as bench_full.json)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] full results written to $outPath")
    } catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
    // stdout: the driver snapshots only the LAST ~2000 chars of the run
    // log (three rounds of `parsed: null` artifacts prove the full
    // 240-query line never survives — it gets cut mid-JSON from the
    // front). So the one stdout line is a COMPACT form sized to fit that
    // window intact: the slowest queries only, 3-decimal seconds, plus
    // the total and a pointer to the full map. Budget ~1800 chars leaves
    // room for sbt's trailing "[success]" line inside the window.
    def j(v: Double): String = f"$v%.3f"
    val slowest = results.sortBy(-_._2)
    val budget = 1800
    val header = s"""{"metric":"total","value":${j(total)},"unit":"sec","sf":"$sfDir","n_queries":${results.size},"stores_total":${j(storesTotal)},"queries_full":"$outPath","queries":{"""
    val tail = "}}"
    var used = header.length + tail.length
    val kept = slowest.takeWhile { case (k, v) =>
      val frag = "\"" + k + "\":" + j(v) + ","
      if (used + frag.length <= budget) { used += frag.length; true } else false
    }
    val compact = header + kept.map { case (k, v) => "\"" + k + "\":" + j(v) }
      .mkString(",") + tail
    println(compact)
    spark.stop()
  }
}
