package graft

import graft.operators.{Ann, Knn}
import graft.queries.{Queries, QueryVectors}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan shape assertions — the 100 TB contract (SURVEY §4):
  * filters reach the parquet scan, small dimensions broadcast, top-k
  * never globally sorts, partitioned IVF storage prunes partitions.
  * These are the properties that decide whether a plan survives a
  * 1000-executor scale-up, asserted against the real optimizer output.
  */
class PlanShapeSpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    // other suites may have cached fixture tables; a cached relation
    // plans as InMemoryTableScan and hides the file-scan properties
    // asserted here
    spark.catalog.clearCache()
  }

  private def planOf(name: String): String = {
    GraftSession.prepare(spark)
    Queries.queriesMap(name)(spark, sf("sf0.001")).queryExecution.executedPlan.toString
  }

  test("q6: every predicate pushes into the parquet scan") {
    val p = planOf("q6_forecast_revenue")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("IsNotNull(l_shipdate"), p)
    // partial aggregation before the exchange (map-side combine)
    assert(p.contains("HashAggregate"), p)
  }

  test("q1: partial hash aggregation below the shuffle") {
    val p = planOf("q1_pricing_summary")
    val aggIdx = p.indexOf("HashAggregate")
    assert(aggIdx >= 0 && p.indexOf("HashAggregate", aggIdx + 1) > aggIdx,
      s"expected partial+final HashAggregate pair:\n$p")
  }

  test("q3/q5: dimension sides broadcast, no shuffle of the dims") {
    assert(planOf("q3_shipping_priority").contains("BroadcastHashJoin"))
    assert(planOf("q5_local_supplier_volume").contains("BroadcastHashJoin"))
  }

  test("flagship KNN: TakeOrderedAndProject directly over the scan, zero exchanges") {
    val p = planOf("knn_exact_cosine")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), s"KNN must not shuffle the corpus:\n$p")
    // where the corpus is read, not held (a filtered corpus), the
    // distance expression participates in codegen (not a black-box UDF)
    val filtered = Knn.search(Tables.embeddings(spark, sf("sf0.001")).filter(col("label") >= 0),
      "embedding", "vec_id", QueryVectors.queryVec64, k = 10)
      .queryExecution.executedPlan.toString
    assert(filtered.contains("cosine_distance") || filtered.contains("CosineDistance"), filtered)
  }

  test("flagship job pin: a warm withMatchScore(search(store)) collects in 1 job, reading no file") {
    GraftSession.prepare(spark)
    val store = Tables.embeddings(spark, sf("sf0.001"))
    def request() = Knn.withMatchScore(
      Knn.search(store, "embedding", "vec_id", QueryVectors.queryVec64, k = 10), "vec_id")
    val warm = request().collect().toSeq
    val counter = new JobCounter(spark)
    try {
      counter.reset()
      val df = request()
      assert(df.collect().toSeq == warm)
      val (jobs, _) = counter.settle()
      assert(jobs == 1, s"$jobs jobs for one warm request")
      val exec = df.queryExecution.executedPlan
      val scans = exec.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s } ++
        exec.collect { case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
        }.flatten
      assert(scans.isEmpty, s"the warm request read the files:\n$exec")
    } finally counter.close()
  }

  test("hybrid KNN: label predicate reaches the scan as a pushed filter") {
    val p = planOf("knn_filtered_hybrid")
    assert(p.contains("PushedFilters: [In(label") || p.contains("PushedFilters: [IsNotNull(label), In(label"),
      s"label IN filter should push into parquet:\n$p")
  }

  test("batch KNN: corpus side never shuffles (broadcast nested-loop + one rank shuffle)") {
    val p = planOf("knn_batch")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // exactly one exchange: the per-query window rank; the corpus scan
    // itself feeds the join without shuffling
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly the rank shuffle, got $exchanges:\n$p")
  }

  test("filtered HNSW: predicate AND candidate IN-filter compose on ONE re-rank scan") {
    val p = planOf("knn_filtered_hnsw")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("In(label"),
      s"relational predicate must push into the re-rank scan:\n$p")
    assert(p.contains("In(vec_id"),
      s"beam candidate IN-filter must push into the re-rank scan:\n$p")
    assert(!p.contains("Exchange"), s"filtered re-rank must not shuffle:\n$p")
  }

  test("routed HNSW: a routed job over the opened graph runs at most nprobe tasks, the full fan nShards") {
    import graft.operators.Nsw
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val params = Nsw.Params(nShards = 4, m = 8, efConstruction = 32, efSearch = 32,
      maxLevel = Nsw.HnswMaxLevel)
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_route").toString
    val counter = new JobCounter(spark)
    try {
      Nsw.writeGraph(
        Nsw.buildGraph(emb, "embedding", "vec_id", params), dir)
      val store = Nsw.readGraph(spark, dir)
      val cents = Nsw.shardCentroids(store)
      val opened = Nsw.openGraph(store, params.nShards)
      val one = Seq(0 -> QueryVectors.queryVec64)
      Nsw.batchSearch(opened, "vec_id", one, 10, params) // runs the exchange
      // the job over the held exchange reads only the partitions of the
      // routed shards (partition pruning on the exchanged RDD — the IVF
      // probe-pruning shape): unrouted shards' partitions get no task
      def tasksOf(search: => Unit): Int = {
        counter.reset(); search; counter.settle(); counter.tasksRun
      }
      val full = tasksOf(Nsw.batchSearch(opened, "vec_id", one, 10, params))
      val routed = tasksOf(Nsw.routedBatchSearch(opened, "vec_id", one, 10, cents,
        nprobe = 2, params))
      assert(full == params.nShards, s"full fan ran $full tasks")
      assert(routed >= 1 && routed <= 2, s"routed (nprobe 2) ran $routed tasks")
    } finally {
      counter.close()
      new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("JDBC round-trip: the read is a partitioned parallel scan, not one task") {
    val p = planOf("src_jdbc_roundtrip")
    assert(p.contains("JDBCRelation"), p)
    assert(p.contains("numPartitions=8"),
      s"JDBC scan must carry the 8 range slices (an unpartitioned read " +
        s"serializes the table through one task):\n$p")
  }

  test("as-of join: one keyed shuffle feeds window AND aggregate (partitioning reused)") {
    val p = planOf("ev_asof_last_view")
    // the window's hash(user_id) partitioning satisfies the groupBy's
    // distribution — a second hash exchange would mean the reuse broke
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected one user_id shuffle, got $exchanges:\n$p")
    assert(!p.toLowerCase.contains("nestedloop") && !p.contains("CartesianProduct"),
      s"as-of must never plan a per-key range/cartesian join:\n$p")
  }

  test("gaps window breadth: per-user pipeline reuses ONE user shuffle (pre-rank plan)") {
    // r22: the query's global ranking moved to DistributedRank (eager),
    // so the registered query's FINAL plan starts at the rank RDD — the
    // per-user lag/aggregate shape is asserted on the pre-rank pipeline
    // built exactly as the query builds it
    GraftSession.prepare(spark)
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sf("sf0.001"))
    val wUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val perUser = ev
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(wUser)))
      .withColumn("next_type", lead(col("event_type"), 1).over(wUser))
      .groupBy(col("user_id"))
      .agg(count(col("gap_us")).as("n_gaps"))
    val p = perUser.queryExecution.executedPlan.toString
    // the per-user aggregate must reuse the lag/lead window's
    // hash(user_id) partitioning — exactly one hashpartitioning exchange
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected one user_id shuffle, got $hashEx:\n$p")
    assert(p.contains("Window"), s"per-user lag window expected:\n$p")
  }

  test("funnel: chained windows + per-user collapse reuse ONE user shuffle") {
    val p = planOf("ev_funnel_conversion")
    // both stage windows and the (user_id, v_ts, c_ts) aggregate are
    // satisfied by hash(user_id); the only other exchange is the
    // single-partition merge of 1-row aggregate partials
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected one user_id shuffle, got $hashEx:\n$p")
  }

  test("cohorts: raw events shuffle once; only the deduped relation re-shuffles") {
    // structured traversal (not plan-string offsets): collect the real
    // Exchange/Window operators and assert the tree relationship
    GraftSession.prepare(spark)
    // AQE wraps the plan; collect() doesn't descend through the wrapper
    val exec = Queries.queriesMap("ev_retention_cohorts")(spark, sf("sf0.001"))
      .queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    def hashExchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = p.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    // shuffle 1: hash(user_id) for the cohort window (distinct reuses
    // it); shuffle 2: hash(cohort_day, day_offset) over the DEDUPED
    // (user, cohort, offset) relation — bounded by |users|×|days|
    val all = hashExchanges(exec)
    assert(all.length == 2, s"expected two hash exchanges, got ${all.length}:\n$exec")
    val windows = exec.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected a Window node:\n$exec")
    // the user_id exchange FEEDS the window (sits in its subtree);
    // the cohort-key exchange sits above it (deduped side only)
    val below = windows.flatMap(w => hashExchanges(w)).distinct
    assert(below.length == 1 &&
      below.head.outputPartitioning.asInstanceOf[HashPartitioning]
        .expressions.map(_.toString).exists(_.contains("user_id")),
      s"exactly the user_id exchange must sit below the window:\n$exec")
    val above = all.filterNot(below.contains)
    assert(above.length == 1 &&
      above.head.outputPartitioning.asInstanceOf[HashPartitioning]
        .expressions.map(_.toString).exists(_.contains("cohort_day")),
      s"the cohort-key exchange must sit above the window:\n$exec")
  }

  test("attribution: the per-conversion window reuses the join's user_id partitioning") {
    // shuffle-join regime (what a 100 TB run lands in): disable
    // broadcast so conv⋈touch sort-merges on user_id; the window's
    // (user_id, conv_id) spec is then satisfied by the subset rule and
    // must NOT introduce its own exchange
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      GraftSession.prepare(spark)
      val exec = Queries.queriesMap("ev_attribution_linear")(spark, sf("sf0.001"))
        .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.window.WindowExec
      assert(exec.collect { case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }.nonEmpty,
        s"expected a sort-merge join with broadcast off:\n$exec")
      val windows = exec.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"expected Window nodes:\n$exec")
      // every hash exchange below a window partitions on user_id ALONE
      // (the join's requirement) — none on (user_id, conv_id)
      val belowWindow = windows.flatMap(_.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] =>
          e.outputPartitioning.asInstanceOf[HashPartitioning].expressions.map(_.toString)
      }).distinct
      assert(belowWindow.nonEmpty && belowWindow.forall(_.length == 1),
        s"the window must ride the join's single-key user_id exchange, got $belowWindow:\n$exec")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("outliers: per-type stats broadcast back onto the scan (no second data shuffle)") {
    val p = planOf("ev_value_outliers")
    assert(p.contains("BroadcastExchange"),
      s"stats relation must broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"events⋈stats must be a broadcast hash join:\n$p")
  }

  test("ngram df cap: tiny hot list broadcasts into a left-anti join") {
    val p = planOf("dedup_ngram_jaccard")
    assert(p.contains("LeftAnti"), s"df cap should be an anti-join:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the hot list (not the keep list) must be the broadcast side:\n$p")
  }

  test("source matrix: only the sparse pair side broadcasts — never the corpus dimension") {
    GraftSession.prepare(spark)
    val q = Queries.queriesMap("dedup_source_matrix")(spark, sf("sf0.001"))
    // AQE wraps the plan; collect() doesn't descend through the wrapper
    val exec = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val broadcasts = exec.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }
    assert(broadcasts.nonEmpty, "expected the pair side to broadcast")
    broadcasts.foreach { b =>
      // a corpus-dimension broadcast would be a BARE scan of
      // documents.parquet. Legitimate broadcast subtrees are (r21) the
      // memoized pair-store scan (DedupQueries.jaccardPairs03 — bounded
      // by the near-dup rate) or a join whose RESULT is pair-sized even
      // when documents is its streamed probe side. ADVICE r21: a bare
      // scan is only acceptable when it reads the WHITELISTED pair
      // store — any other bare file scan (including a corpus-sized
      // relation laundered through some other memoized temp table)
      // must fail here.
      val sub = b.toString
      val bareScanOk = sub.contains("graft_jacpairs03")
      assert(sub.contains("Join") || sub.contains("HashAggregate") || bareScanOk,
        s"BroadcastExchange over a bare scan that is not the jacpairs03 " +
          s"pair store (possible corpus-dimension broadcast):\n$sub")
    }
  }

  test("stratified sample and tfidf rank under WindowGroupLimit (k-cap before full sort)") {
    assert(planOf("pipeline_balanced_sample").contains("WindowGroupLimit"))
    assert(planOf("txt_tfidf_top_terms").contains("WindowGroupLimit"))
  }

  test("knn label accuracy: queries broadcast; per-query top-k caps map-side") {
    val p = planOf("ml_knn_label_accuracy")
    // the 50-query side rides a broadcast loop join — the corpus never
    // shuffles for scoring
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the fixed query set must broadcast onto the corpus:\n$p")
    // the rank ≤ 10 must cap rows before the qid exchange
    assert(p.contains("WindowGroupLimit"),
      s"top-k must run as WindowGroupLimit, not a full per-query sort:\n$p")
  }

  test("analyze stats: one lineitem scan feeds every column's statistics") {
    val p = planOf("maint_analyze_stats")
    assert("lineitem\\.parquet".r.findAllIn(p).length == 1,
      s"multi-column stats must come from ONE scan:\n$p")
    // the multi-column distinct runs through Spark's Expand rewrite —
    // the single-pass shape ANALYZE relies on
    assert(p.contains("Expand"), s"expected the Expand-based multi-distinct:\n$p")
    // every min/max buffer is fixed-width (the string flag aggregates
    // its codepoint), so the whole pass is hash-based: a SortAggregate
    // here means someone reintroduced a string/variable-width buffer
    // and the 5×-expanded rows are being sorted (measured 7.9 s vs
    // 1.6 s at sf0.1)
    assert(!p.contains("SortAggregate"),
      s"the Expand aggregate must stay hash-based:\n$p")
  }

  test("decontaminate: benchmark gram set broadcasts; corpus never sort-merge-joins on grams") {
    val p = planOf("pipeline_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"gram join must broadcast the bench side:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must not shuffle on the gram key:\n$p")
  }

  test("quantized rescore: both stages are TakeOrderedAndProject, zero corpus shuffles") {
    val p = planOf("knn_quantized_rescore")
    val topK = "TakeOrderedAndProject".r.findAllIn(p).length
    assert(topK >= 2, s"expected candidate + rescore top-k stages:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"quantized search must not shuffle the corpus:\n$p")
  }

  test("bm25: corpus stats broadcast as a single row (no per-doc stats shuffle)") {
    val p = planOf("txt_bm25_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the one-row stats relation must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-10 must be a bounded heap:\n$p")
  }

  test("runtime bloom filter prunes the fact side of orders⋈lineitem (Spark 3.3+ runtime filtering)") {
    // the application-side minimum (default 10 GB — the fact scan must
    // be big enough to be worth protecting) is floored so the
    // fixture-size join qualifies; the creation-side MAXIMUM (build
    // side ≤ 10 MB) already passes for the filtered orders slice — at
    // real scale both defaults gate this automatically
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") // force a shuffle join so the filter has a side to protect
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val ord = Tables.orders(spark, sf("sf0.001"))
        .filter(col("o_orderpriority") === "1-URGENT")
      val li = Tables.lineitem(spark, sf("sf0.001"))
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).count()
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter") || plan.contains("BloomFilter") ||
        plan.contains("might_contain"),
        s"runtime bloom filter should inject on the fact scan:\n$plan")
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
  }

  /** First parquet scan of the executed plan, descending through the
    * AQE wrapper (collectLeaves on AdaptiveSparkPlanExec stops at the
    * wrapper itself).
    */
  private def fileScanOf(q: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.sql.execution.FileSourceScanExec] = {
    val exec = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    exec.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
  }

  test("hybrid IVF rewrite: partition pruning AND pushed label filter on one scan") {
    GraftSession.prepare(spark)
    val q = Queries.queriesMap("knn_filtered_ivf_rewrite")(spark, sf("sf0.001"))
    val scan = fileScanOf(q)
    assert(scan.nonEmpty, q.queryExecution.executedPlan.toString)
    // channel 1: the injected probe filter prunes cluster directories
    assert(scan.get.selectedPartitions.partitionCount == 3,
      s"expected 3 probed partitions, scanned ${scan.get.selectedPartitions.partitionCount}")
    // channel 2: the relational predicate reaches parquet as a pushed filter
    val pushed = scan.get.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("In(label"), s"label filter must push into the scan: $pushed")
    // and the top-k is still a bounded heap, not a global sort
    assert(q.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  test("kmeans IVF rewrite: probe filter prunes the kmeans-partitioned index") {
    GraftSession.prepare(spark)
    val q = Queries.queriesMap("ann_ivf_kmeans_rewrite")(spark, sf("sf0.001"))
    val scan = fileScanOf(q)
    assert(scan.nonEmpty)
    // ≤ 3 of the 8 cluster directories read (a probed kmeans cluster MAY
    // be empty → no directory, so exact-3 would flake); ≥ 1 proves the
    // scan isn't unpruned
    val n = scan.get.selectedPartitions.partitionCount
    assert(n >= 1 && n <= 3, s"expected ≤3 probed partitions of 8, scanned $n")
  }

  test("persisted IVF index: probe filter becomes partition pruning") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val cents = Ann.seededCentroids(emb, "embedding", "vec_id", nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    try {
      Ann.writeIndexed(emb, "embedding", cents, dir)
      val indexed = Ann.readIndexed(spark, dir)
      val hits = Ann.search(indexed, "embedding", "vec_id", QueryVectors.queryVec64,
        k = 10, cents, nprobe = 3)
      val plan = hits.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [") && plan.contains("cluster_id"),
        s"probe filter should prune cluster partitions:\n$plan")
      // pruned scan must read fewer than all 8 partition dirs
      val scan = hits.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      assert(scan.nonEmpty)
      assert(scan.get.selectedPartitions.partitionCount == 3,
        s"expected 3 probed partitions, scanned ${scan.get.selectedPartitions.partitionCount}")
      // and the result matches searching the unpartitioned frame
      val expect = Ann.search(Ann.assignClusters(emb, "embedding", cents),
        "embedding", "vec_id", QueryVectors.queryVec64, k = 10, cents, nprobe = 3)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(hits.select("vec_id").collect().map(_.getLong(0)).toSeq == expect)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("remove-spans: canonical pick is a partial aggregate, never a hash-partition window") {
    // the mega-duplicate skew guard: row_number() over (partition by gh)
    // would funnel every occurrence of one boilerplate window hash into
    // a single sort partition; the min(struct)+count aggregate combines
    // map-side. The only Window allowed in this plan is none at all —
    // the interval CUT is a per-row HOF, not a window function.
    val p = planOf("dedup_remove_spans")
    assert(!p.contains("Window"), s"no window function expected:\n$p")
    val aggIdx = p.indexOf("HashAggregate")
    assert(aggIdx >= 0 && p.indexOf("HashAggregate", aggIdx + 1) > aggIdx,
      s"expected partial+final HashAggregate for the canonical pick:\n$p")
  }

  test("window-spans: interval union rides the doc partitioning (no extra id exchange)") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    GraftSession.prepare(spark)
    val exec = Queries.queriesMap("dedup_window_spans")(spark, sf("sf0.001"))
      .queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def hashExchanges(p: SparkPlan): Seq[ShuffleExchangeExec] = p.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    val windows = exec.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected a WindowExec (lag over id):\n$exec")
    // hash exchanges: 3× documentsSpread repartition(doc_id) (spine +
    // the two window-explode consumers) + 1× hash(gh) under the dup-set
    // aggregate. A 5th would mean the lag window or the coverage
    // aggregate re-shuffled on id instead of riding the doc_id
    // partitioning through the alias (AliasAwareOutputExpression).
    assert(hashExchanges(exec).length == 4,
      s"expected 4 hash exchanges (3 doc repartitions + gh agg):\n$exec")
    // the window subtree holds both explode-side doc repartitions and
    // the gh aggregate's exchange — and nothing else: no 4th exchange
    // means the lag/coverage chain reuses the doc_id partitioning
    assert(hashExchanges(windows.head).length == 3,
      s"window subtree must hold only 2 doc repartitions + the gh exchange:\n${windows.head}")
  }

  // The TPC-H-deep family: correlated subqueries must DECORRELATE —
  // Catalyst rewrites EXISTS/NOT EXISTS to semi/anti hash joins and
  // scalar subqueries to one broadcast scalar. A nested-loop or
  // cartesian fallback here is the difference between one shuffle and
  // O(n·m) work at 100 TB.
  private def unwrapped(name: String): SparkPlan = {
    GraftSession.prepare(spark)
    Queries.queriesMap(name)(spark, sf("sf0.001"))
      .queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def joinTypes(p: SparkPlan): Seq[String] =
    p.collect { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j.joinType.sql }

  private def assertNoLoopJoins(p: SparkPlan): Unit = {
    val loops = p.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(loops.isEmpty, s"correlation fell back to a loop join:\n$p")
  }

  test("q4: correlated EXISTS decorrelates to one left-semi hash join") {
    val p = unwrapped("q4_late_order_priority")
    assert(joinTypes(p).count(_ == "LEFT SEMI") == 1, s"expected one semi join:\n$p")
    assertNoLoopJoins(p)
  }

  test("q21: semi + anti correlation on the same fact, both as hash joins") {
    val p = unwrapped("q21_waiting_suppliers")
    val jt = joinTypes(p)
    assert(jt.contains("LEFT SEMI") && jt.contains("LEFT ANTI"),
      s"expected semi AND anti joins, got $jt:\n$p")
    assertNoLoopJoins(p)
  }

  test("q22: scalar subquery broadcasts as one scalar; NOT EXISTS is an anti hash join") {
    val p = unwrapped("q22_idle_balance")
    assert(joinTypes(p).contains("LEFT ANTI"), s"expected an anti join:\n$p")
    assertNoLoopJoins(p)
    // the avg-balance subquery must hang off a Filter as a scalar, not
    // join against the customer scan
    assert(p.toString.contains("Subquery subquery"), s"expected a scalar subquery:\n$p")
  }

  test("q19: the OR-of-ANDs predicate factors into pushed filters on BOTH scans") {
    GraftSession.prepare(spark)
    // the simple plan string TRUNCATES scan metadata — formatted mode
    // carries the full PushedFilters lists
    val p = Queries.queriesMap("q19_disjunctive_revenue")(spark, sf("sf0.001"))
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    // quantity arms push into the lineitem scan, brand/size arms into
    // the part scan — the disjunction never forces a full-scan join
    assert(p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity"),
      s"quantity OR-arms must push into the lineitem scan:\n$p")
    assert(p.contains("EqualTo(p_brand,Brand#12)"),
      s"brand/size OR-arms must push into the part scan:\n$p")
    assertNoLoopJoins(unwrapped("q19_disjunctive_revenue"))
  }

  test("q15: the max-revenue compare is one scalar subquery, not a join") {
    val p = unwrapped("q15_top_supplier")
    assert(p.toString.contains("Subquery subquery"),
      s"expected the MAX as a scalar subquery:\n$p")
    assertNoLoopJoins(p)
  }

  test("q2: correlated MIN decorrelates to an aggregate join, dims broadcast, no loop join") {
    val p = unwrapped("q2_min_cost_supplier")
    assertNoLoopJoins(p)
    // RewriteCorrelatedScalarSubquery: the per-part MIN must appear as a
    // second aggregate joined back on l_partkey — i.e. at least two
    // aggregate pairs (partial+final) over the cost relation, and an
    // inner equality join whose keys include the cost column
    val aggs = p.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }
    assert(aggs.length >= 4, s"expected partial+final aggs for cost AND min-cost:\n$p")
    assert(joinTypes(p).count(_ == "INNER") >= 3, s"expected the min-cost equality join:\n$p")
  }

  test("q16: pair discovery is one distinct shuffle; exclusion and dims broadcast") {
    val p = unwrapped("q16_parts_supplier")
    assertNoLoopJoins(p)
    assert(joinTypes(p).contains("LEFT ANTI"), s"expected the bad-supplier anti join:\n$p")
    val bhj = p.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.length >= 3, s"part semi, anti and dim joins must broadcast:\n$p")
  }

  test("q20: both IN-subqueries rewrite to semi joins, never loop joins") {
    val p = unwrapped("q20_potential_promotion")
    assert(joinTypes(p).count(_ == "LEFT SEMI") == 2,
      s"expected two left-semi joins (part list + supplier ids):\n$p")
    assertNoLoopJoins(p)
  }

  test("q17: per-part average comes from one aggregate broadcast back, not a re-executed subquery") {
    val p = unwrapped("q17_small_qty_revenue")
    val broadcasts = p.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }
    // brand-part semi builds ×2 + the per-part aggregate build
    assert(broadcasts.length == 3, s"expected 3 broadcast builds:\n$p")
    assertNoLoopJoins(p)
    // the threshold compare is integer arithmetic end-to-end (the
    // float-parity contract in the querydoc)
    assert(!p.toString.contains("avg("), s"no floating avg may appear in the plan:\n$p")
  }

  test("dsir: ratio table broadcasts, selection is top-k not a global sort") {
    val p = planOf("pipeline_dsir_select")
    assert(p.contains("TakeOrderedAndProject"),
      s"Gumbel top-k must plan as a per-partition heap:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the <=1024-row log-ratio table must broadcast onto the feature scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-sized shuffle join may appear:\n$p")
  }

  test("poisson bootstrap: replicate explode collapses map-side before the shuffle") {
    val p = planOf("stat_poisson_bootstrap")
    // partial aggregate sits BETWEEN the explode (Generate) and the first
    // Exchange — the property that caps the shuffle at B rows/partition
    val gen = p.indexOf("Generate")
    val agg = p.indexOf("HashAggregate")
    assert(gen >= 0 && agg >= 0, p)
    val genToExchange = p.substring(0, gen)
    assert(genToExchange.contains("HashAggregate"),
      s"a partial HashAggregate must appear above the Generate (plan prints top-down):\n$p")
    // the replicate draw stays codegen'd — no UDF black box
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  // ---- iterative graph / ML family: the per-round plans the scaladocs
  // claim, asserted against the PRODUCTION round builders (factored out
  // of the query loops exactly so these asserts drive the real code) ----

  private def hashExchanges(p: String): Int =
    "Exchange hashpartitioning".r.findAllIn(p).length

  /** Strip InMemoryRelation CACHED-BUILD subtrees from a plan string:
    * the cache's one-time build lineage prints nested under the scan,
    * and its exchanges are paid once at materialization — they must not
    * count against the per-round plan the tests below pin down.
    */
  private def outerPlan(p: String): String = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var skipIndent = -1
    p.linesIterator.foreach { ln =>
      val indent = ln.takeWhile(c => c == ' ' || c == ':' || c == '+' || c == '-').length
      if (!(skipIndent >= 0 && indent > skipIndent)) {
        skipIndent = if (ln.contains("InMemoryRelation")) indent else -1
        out += ln
      }
    }
    out.mkString("\n")
  }

  test("LPA round: pre-partitioned cached adjacency never re-shuffles; labels + rollup + argmax only") {
    GraftSession.prepare(spark)
    val edges = graft.queries.StatQueries.coPurchaseEdges(spark, sf("sf0.001"), 2)
      .select(col("src"), col("dst"))
    val adj = graft.queries.StatQueries.lpaAdjacency(edges)
    adj.count() // materialize the cache so the round plans against it
    val labels = adj.select(col("v")).distinct()
      .withColumn("lbl", col("v")).localCheckpoint()
    val p = outerPlan(graft.queries.StatQueries.lpaRound(adj, labels, 1)
      .queryExecution.executedPlan.toString)
    // at most 3 exchanges: node-sized labels onto nbr (or broadcast),
    // the (v,lbl) count rollup, the argmax window on v — the EDGE-sized
    // adjacency contributes zero (the cache carries hashpartitioning(nbr))
    assert(hashExchanges(p) <= 3,
      s"expected <=3 exchanges (labels, rollup, window) — adjacency must not re-shuffle:\n$p")
    // the adjacency is read from the partitioned cache
    assert(p.contains("InMemoryTableScan"), s"adjacency must read from cache:\n$p")
    // the rollup combines map-side before its exchange
    val aggIdx = p.indexOf("HashAggregate")
    assert(aggIdx >= 0 && p.indexOf("HashAggregate", aggIdx + 1) > aggIdx,
      s"expected partial+final HashAggregate pair:\n$p")
    adj.unpersist()
  }

  test("SSSP sweep: pre-partitioned cached adjacency never re-shuffles nor broadcasts") {
    GraftSession.prepare(spark)
    val edges = graft.queries.StatQueries.coPurchaseEdges(spark, sf("sf0.001"), 2)
      .select(col("src"), col("dst"),
        expr("1 + (100 div n_co)").cast("long").as("w"))
      .localCheckpoint()
    val adj = graft.queries.StatQueries.ssspAdjacency(edges)
    adj.count() // materialize the cache so the sweep plans against it
    val dist = adj.groupBy(col("u")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("u")).limit(1)
      .select(col("u").as("v"), lit(0L).as("dist"))
      .localCheckpoint()
    val p = outerPlan(graft.queries.StatQueries.ssspRelax(adj, dist)
      .queryExecution.executedPlan.toString)
    // at most 2: the frontier onto u for the join (the planner may
    // instead BROADCAST the frontier — also correct: it is sparse by
    // construction) and the min rollup onto v. The edge-sized adjacency
    // moves in NEITHER form: no re-exchange (its cache carries
    // hashpartitioning(u)) and never the broadcast build side (any
    // BroadcastExchange subtree must be the 2-column dist frontier).
    assert(hashExchanges(p) <= 2,
      s"expected <=2 exchanges — adjacency must not re-shuffle:\n$p")
    assert(p.contains("InMemoryTableScan"), s"adjacency must read from cache:\n$p")
    "BroadcastExchange[\\s\\S]{0,600}?(?=BroadcastExchange|$)".r.findAllIn(p).foreach { sub =>
      assert(sub.contains("dist#"),
        s"only the dist frontier may broadcast, got:\n$sub")
    }
    adj.unpersist()
  }

  test("logreg GD iteration: one map-side-combining aggregate, zero hashpartitioning exchanges") {
    GraftSession.prepare(spark)
    val base = graft.queries.MlQueries.logregBase(spark, sf("sf0.001"))
    val p = graft.queries.MlQueries.logregIterAgg(base, (0.1, -0.2, 0.3))
      .queryExecution.executedPlan.toString
    assert(hashExchanges(p) == 0,
      s"the gradient aggregate must not hash-shuffle:\n$p")
    assert("Exchange SinglePartition".r.findAllIn(p).length == 1,
      s"expected exactly the final 4-sum gather:\n$p")
    val aggIdx = p.indexOf("HashAggregate")
    assert(aggIdx >= 0 && p.indexOf("HashAggregate", aggIdx + 1) > aggIdx,
      s"expected partial+final HashAggregate pair:\n$p")
    // the sigmoid/gradient arithmetic stays codegen'd
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
  }

  test("trade-graph build: customer/supplier dims broadcast, fact side never broadcast") {
    // the six nation-graph queries now read the memoized per-(fixture,
    // JVM) trade-graph store; the ONE shared fact join they amortize is
    // tradeGraphAgg — assert its discipline directly
    GraftSession.prepare(spark)
    val p = graft.queries.StatQueries.tradeGraphAgg(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 2, s"customer and supplier dim joins must broadcast:\n$p")
    // the orders⋈lineitem fact join must NOT put a fact table in a
    // broadcast build: every BroadcastExchange subtree stays dim-sized
    assert(!"BroadcastExchange[\\s\\S]{0,400}?lineitem\\.parquet".r.findFirstIn(p).isDefined,
      s"lineitem may never be a broadcast build side:\n$p")
    assert(!"BroadcastExchange[\\s\\S]{0,400}?orders\\.parquet".r.findFirstIn(p).isDefined,
      s"orders may never be a broadcast build side:\n$p")
    // the (src, dst) rollup combines map-side before its exchange
    val aggIdx = p.indexOf("HashAggregate")
    assert(aggIdx >= 0 && p.indexOf("HashAggregate", aggIdx + 1) > aggIdx,
      s"expected partial+final HashAggregate pair:\n$p")
  }

  test("HITS iterations: loop joins only as scalar Cross broadcasts over the store read") {
    val p = planOf("graph_hits_nations")
    // loop joins only as scalar Cross broadcasts (the one-row
    // normalizer relation) — never as a data-sized fallback join
    "BroadcastNestedLoopJoin[^\\n]*".r.findAllIn(p).foreach { line =>
      assert(line.contains("Cross"), s"non-scalar loop join in the iteration: $line")
    }
    // the edge relation is the memoized store, not a re-run fact join:
    // no lineitem scan anywhere in the per-query plan
    assert(!p.contains("lineitem.parquet"),
      s"HITS must read the memoized trade-graph store, not rebuild the fact join:\n$p")
  }

  test("eccentricity: reads the memoized selective store, never the fact join") {
    val p = planOf("graph_eccentricity_nations")
    assert(!p.contains("lineitem.parquet"),
      s"eccentricity must read the memoized trade-graph store:\n$p")
  }

  test("every memoized-store consumer reads the store, never the fact join") {
    // the HITS/eccentricity asserts above, extended to the WHOLE
    // consumer family: a future refactor must not be able to silently
    // re-inline the lineitem-sized edge build into a per-query plan.
    // Co-purchase consumers (support-2 and support-1 stores) and the
    // remaining trade-graph consumers; the store parquet is built on
    // first access, so each per-query plan must be lineitem-scan-free.
    val consumers = Seq(
      // support-2 co-purchase store
      "graph_label_propagation", "graph_sssp_weighted", "graph_modularity",
      "graph_louvain_refine", "graph_link_prediction", "graph_ppr_parts",
      "graph_rich_club",
      // support-1 co-purchase store
      "graph_degree_assortativity",
      // trade-graph store
      "graph_betweenness_approx", "graph_closeness_nations",
      "graph_bfs_nations", "graph_pagerank_nations", "graph_reciprocity",
      "graph_random_walks", "graph_walk_skipgrams")
    consumers.foreach { q =>
      val p = planOf(q)
      assert(!p.contains("lineitem.parquet"),
        s"$q must read its memoized edge store, not rebuild the fact join:\n$p")
      assert(!p.contains("orders.parquet"),
        s"$q must not re-join the orders fact either:\n$p")
    }
    // the markov pair reads the shared transition-count store — the
    // one user-keyed lag-window pass over events is paid once per
    // session, not once per consumer
    Seq("ev_markov_transitions", "ev_markov_stationary").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("events.parquet"),
        s"$q must read the memoized transition-count store, not re-scan events:\n$p")
    }
  }

  test("frequent triples: brand dim broadcasts; scalars Cross-broadcast; top-25 heaps") {
    val p = planOf("ml_frequent_triples")
    // the brand lookup must never shuffle the fact side
    assert(p.contains("BroadcastHashJoin"), s"brand dim must broadcast:\n$p")
    // loop joins only as one-row scalar Cross broadcasts (total + n_orders)
    "BroadcastNestedLoopJoin[^\\n]*".r.findAllIn(p).foreach { line =>
      assert(line.contains("Cross"), s"non-scalar loop join: $line")
    }
    assert(p.contains("TakeOrderedAndProject"),
      s"top-25 must be a bounded heap, not a global sort:\n$p")
    // the triple rollup combines map-side before its exchange
    val aggIdx = p.indexOf("HashAggregate")
    assert(aggIdx >= 0 && p.indexOf("HashAggregate", aggIdx + 1) > aggIdx, p)
  }

  test("textrank: 50-row vocab broadcasts into both bigram legs; top-25 heaps") {
    // the registered query localCheckpoints the bigram rollup (r21 — it
    // is consumed by both symmetrization directions), so the bigram
    // joins no longer appear in the FINAL plan; assert the broadcast
    // discipline on the factored leg directly (the logregIterAgg
    // pattern) and the bounded heap on the registered query.
    GraftSession.prepare(spark)
    val tk = graft.queries.TextQueries.docToks(spark, sf("sf0.001"))
    val vocab = tk.select(explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(50)
      .select(col("token")).localCheckpoint()
    val pb = graft.queries.TextQueries.textrankBigrams(tk, vocab)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(pb).length >= 2,
      s"the capped vocab must broadcast into both bigram filters:\n$pb")
    val p = planOf("txt_textrank_keywords")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"),
      s"keyword top-25 must be a bounded heap:\n$p")
  }

  test("quantization error: one label rollup shuffle, fully codegen'd arithmetic") {
    val p = planOf("vec_quantization_error")
    assert(hashExchanges(p) == 1,
      s"expected exactly the label rollup exchange:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"the quantize/dequantize arithmetic must stay codegen'd:\n$p")
  }

  /** Every BroadcastExchange subtree of a plan string, extracted by
    * indentation (the subtree is every following line strictly deeper
    * than the exchange's own indent) — for asserting what is ALLOWED
    * to be a broadcast build side.
    */
  private def broadcastSubtrees(p: String): Seq[String] = {
    val lines = p.linesIterator.toVector
    def indent(ln: String) = ln.takeWhile(c => c == ' ' || c == ':' || c == '+' || c == '-').length
    lines.zipWithIndex.collect { case (ln, i) if ln.contains("BroadcastExchange") =>
      val base = indent(ln)
      (lines.drop(i + 1).takeWhile(l => indent(l) > base) :+ ln).mkString("\n")
    }
  }

  test("naive bayes: token-keyed likelihood join — exploded corpus relations never broadcast") {
    // at fixture sizes the planner may legitimately broadcast the
    // smaller (test-token) side — a size-estimate decision that
    // REVERSES at scale. The hazard this test guards is a hard-coded
    // broadcast() hint on a corpus/vocabulary-sized relation, which no
    // size threshold would undo: planning with auto-broadcast OFF
    // emulates at-scale estimates, where only explicit hints survive.
    GraftSession.prepare(spark)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    val p = try {
      spark.conf.set(key, "-1")
      graft.queries.Queries.queriesMap("ml_naive_bayes")(spark, sf("sf0.001"))
        .queryExecution.executedPlan.toString
    } finally spark.conf.set(key, saved)
    // the (vocab x class) likelihood table and the test-token relation
    // are corpus/vocabulary-sized (both descend from an explode) and
    // join on the token KEY; only the scalar/per-class aggregates
    // (priors, class totals, vocab size — no Generate in their lineage)
    // carry explicit broadcast() hints in the query
    broadcastSubtrees(p).foreach { sub =>
      // a broadcast whose lineage contains the explode is fine ONLY if
      // an aggregate sits between them (class totals / vocab size: the
      // HashAggregate bounds the broadcast to |classes| rows no matter
      // the corpus); a RAW exploded relation under a broadcast is the
      // unbounded shape this test forbids
      val gen = sub.indexOf("Generate")
      val agg = sub.indexOf("HashAggregate")
      assert(gen < 0 || (agg >= 0 && agg < gen),
        s"an exploded (token-level) relation must never carry a broadcast hint:\n$sub")
    }
    // with size-based broadcasts off, the token join shuffles on w
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"the likelihood join must shuffle on the token key:\n$p")
    // counts combine map-side before their exchange
    val aggIdx = p.indexOf("HashAggregate")
    assert(aggIdx >= 0 && p.indexOf("HashAggregate", aggIdx + 1) > aggIdx,
      s"expected partial+final HashAggregate pair:\n$p")
    // the log-likelihood arithmetic stays codegen'd
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
  }

  test("kmeans elbow: four centroid-literal projections, no joins, no hash shuffle") {
    val p = planOf("vec_kmeans_elbow")
    assert(hashExchanges(p) == 0,
      s"each elbow leg is a projection + one-row agg — no hash shuffle anywhere:\n$p")
    assert(!p.contains("Join"), s"centroids are literals — no join may appear:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"the distance arithmetic must stay codegen'd:\n$p")
    // four one-row gathers (one per k), and nothing corpus-sized sorts
    assert("Exchange SinglePartition".r.findAllIn(p).length >= 4, p)
  }

  test("hash balance: bucket rollup combines map-side; single final gather") {
    val p = planOf("dq_hash_balance")
    assert(hashExchanges(p) <= 1, s"one bucket exchange at most:\n$p")
    val aggIdx = p.indexOf("HashAggregate")
    assert(aggIdx >= 0 && p.indexOf("HashAggregate", aggIdx + 1) > aggIdx,
      s"expected partial+final HashAggregate pair:\n$p")
  }

  test("caption align: ONE Generate emits both event kinds; one documents scan; no join before the window") {
    val p = planOf("mm_caption_align")
    // the fused tagged-union generator (r17 verdict #5): cue and frame
    // events explode from one concat'd array — a second Generate would
    // mean the two-scan shape regressed
    assert("Generate ".r.findAllIn(p).length == 1,
      s"cues and frames must come from ONE generator:\n$p")
    // one corpus-sized scan feeds the generator; the only other scan is
    // the n_cues side, which joins AFTER the per-doc aggregate
    // (doc-count-sized, broadcast — the plan shows BroadcastHashJoin
    // above the final HashAggregate)
    assert("FileScan parquet".r.findAllIn(p).length <= 2,
      s"at most the generator scan + the bounded n_cues scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the n_cues join must broadcast the doc-count-sized side:\n$p")
  }

  test("gaps pctrank: ranking rides DistributedRank, not a single-partition window (r22 audit)") {
    val p = planOf("ev_gaps_lag_pctrank")
    // the GLOBAL percent_rank/cume_dist over the |users|-sized
    // aggregate — the one corpus-growing unpartitioned window in the
    // repo — must not reappear (it now computes from DistributedRank's
    // rank: the final plan reads the rank RDD, so NO Window operator
    // and no ranking expression may appear here at all; the per-user
    // lag window runs inside the eager byKey input pipeline, asserted
    // by the pre-rank test above)
    assert(!p.contains("percent_rank") && !p.contains("cume_dist") &&
      !p.contains("Window"),
      s"global ranking must come from DistributedRank, not a ranking window:\n$p")
    assert(p.contains("ExistingRDD"),
      s"final plan must read DistributedRank's rank RDD:\n$p")
  }
}
