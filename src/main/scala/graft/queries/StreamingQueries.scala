package graft.queries

import graft.Tables
import graft.streaming.VectorServing
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Hash-gated coverage of the STREAMING paths (SURVEY §2.8): the other
  * streaming queries (tumbling/sliding/session windows) are
  * oracle-gated through their batch-equivalent frames, but
  * [[VectorServing.ingestDedupStream]] (foreachBatch, stateful against
  * the stored corpus) and [[VectorServing.serveKnn]] (micro-batch KNN
  * over a query stream) were spec-only. Both now run to completion —
  * AvailableNow file replay for ingest, drained MemoryStream for
  * serving — and the driver hashes their FINAL materialized output, so
  * oracle greenness proves the streaming loops themselves: batch
  * ordering, per-batch state against everything previously stored,
  * append-only sink growth.
  */
object StreamingQueries {

  /** One run-to-completion streaming ingest per (sfDir, JVM), memoized
    * like the IVF index store: Verify/Bench pay the stream once and the
    * registered query reads the final corpus. Paths are pid-suffixed
    * (concurrent JVMs must not share a corpus mid-stream) and reaped on
    * exit / when the owning JVM is gone.
    */
  private object StreamIngestStore {
    private val done = scala.collection.concurrent.TrieMap.empty[String, String]

    def ensure(s: SparkSession, dir: String): String =
      done.getOrElseUpdate(dir, {
        val root = TmpStores.pidScopedPath("graft_stream_ingest", dir)
        // a FAILED earlier attempt in this JVM caches nothing in `done`
        // but leaves staging/checkpoint/corpus on disk — start clean or
        // the retry wedges on half-staged files and a stale checkpoint
        new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()

        // Deterministic two-batch replay: the "already ingested" corpus
        // (doc_id ≢ 0 mod 5 — same split as the batch dedup_incremental
        // gate) arrives as the OLDER staged file, the incoming batch
        // (≡ 0 mod 5) as the newer one. The file source picks oldest
        // files first and maxFilesPerTrigger=1 caps each micro-batch at
        // one file, so the stream replays exactly batch1 → batch2 and
        // batch2 is gated against the stored batch1.
        val docs = Tables.documents(s, dir)
        val staging = s"$root/staging"
        TmpStores.stageBatches(docs, staging, Seq(
          ("batch1", pmod(col("doc_id"), lit(5)) =!= 0, 120000L),
          ("batch2", pmod(col("doc_id"), lit(5)) === 0, 60000L)))

        val corpus = s"$root/corpus"
        val stream = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(staging)
        VectorServing.ingestDedupStream(stream, "text", "doc_id",
            corpus, s"$root/ckpt", threshold = 0.5,
            trigger = Trigger.AvailableNow())
          .awaitTermination()
        corpus
      })
  }

  private val streamIngest = QueryDef(
    "stream_ingest_dedup",
    "Streaming dedup-gated ingest run to completion (AvailableNow): the " +
      "documents fixture replays as two file-source micro-batches " +
      "(existing corpus, then incoming batch); each batch is checked " +
      "against everything ALREADY STORED (fingerprint semi-join + " +
      "incoming×stored MinHash LSH + Jaccard ≥ 0.5 verify) and only " +
      "novel docs append. The hashed result is the FINAL stored table — " +
      "the oracle recomputes the whole gate in SQL, so a green row " +
      "proves the streaming loop end-to-end, not just one batch.",
    (s, dir) => {
      val corpus = StreamIngestStore.ensure(s, dir)
      s.read.parquet(corpus).select(col("doc_id")).orderBy(col("doc_id"))
    },
    Some {
      val inc = (c: String) => s"$c % 5 = 0"
      s"""
      |${DedupQueries.duckShingles}, ${DedupQueries.duckIncrementalCtes(inc)}
      |SELECT doc_id FROM fpx WHERE NOT (doc_id % 5 = 0)
      |UNION ALL
      |SELECT tt.doc_id
      |FROM fpx tt LEFT JOIN best ON tt.doc_id = best.id
      |WHERE tt.doc_id % 5 = 0
      |  AND NOT (${DedupQueries.duckExactDupExists(inc)}
      |           OR COALESCE(best.best_jaccard >= 0.5, false))
      |ORDER BY doc_id
      """.stripMargin.trim
    })

  /** One run-to-completion serving stream per (sfDir, JVM): the
    * `knn_batch` query vectors arrive as TWO MemoryStream micro-batches
    * (3 then 2 queries), each scored top-3 against the embeddings
    * corpus by the SAME `Knn.batchSearch` the batch oracle gates; every
    * batch's results append to a parquet sink. Because per-query top-k
    * is independent of batching, the final sink must equal the one-shot
    * batch result — which is exactly the `knn_batch` oracle SQL.
    */
  private object ServeStore {
    private val done = scala.collection.concurrent.TrieMap.empty[String, String]

    def ensure(s: SparkSession, dir: String): String =
      done.getOrElseUpdate(dir, {
        val root = TmpStores.pidScopedPath("graft_stream_serve", dir)
        new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
        val out = s"$root/results"
        val corpus = Tables.embeddings(s, dir)
        import s.implicits._
        val input = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Int, Seq[Float])](s)
        val qvecs = VectorQueries.batchQueryVecs.map { case (i, v) => (i, v.toSeq) }
        val q = VectorServing.serveKnn(
          input.toDF().toDF("query_id", "query_vec"), corpus,
          "embedding", "vec_id", "query_vec", "query_id", k = 3,
          s"$root/ckpt") { batchOut =>
          batchOut.write.mode("append").parquet(out)
        }
        try {
          input.addData(qvecs.take(3)); q.processAllAvailable()
          input.addData(qvecs.drop(3)); q.processAllAvailable()
        } finally q.stop()
        out
      })
  }

  /** One run-to-completion PQ serving stream per (sfDir, JVM) — the PQ
    * twin of [[ServeStore]]: same two MemoryStream micro-batches of the
    * `knn_batch` query vectors, scored by `Pq.batchSearch` with the
    * encoded corpus as both codes and vectors (codebooks from the SAME
    * per-run `PqStore` the batch PQ oracles embed).
    */
  private object PqServeStore {
    private val done = scala.collection.concurrent.TrieMap.empty[String, String]

    def ensure(s: SparkSession, dir: String): String =
      done.getOrElseUpdate(dir, {
        val root = TmpStores.pidScopedPath("graft_stream_pq", dir)
        new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
        val out = s"$root/results"
        val cb = VectorQueries.PqStore.ensure(s, dir)
        val encoded = graft.operators.Pq.encode(
          Tables.embeddings(s, dir), "embedding", cb)
        import s.implicits._
        val input = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Int, Seq[Float])](s)
        val qvecs = VectorQueries.batchQueryVecs.map { case (i, v) => (i, v.toSeq) }
        val q = VectorServing.servePqKnn(
          input.toDF().toDF("query_id", "query_vec"), encoded,
          "embedding", "vec_id", "query_vec", "query_id", cb,
          k = 3, shortlist = 20, s"$root/ckpt") { batchOut =>
          batchOut.write.mode("append").parquet(out)
        }
        try {
          input.addData(qvecs.take(3)); q.processAllAvailable()
          input.addData(qvecs.drop(3)); q.processAllAvailable()
        } finally q.stop()
        out
      })
  }

  private val streamServePq = QueryDef(
    "stream_serve_pq",
    "Micro-batch PQ serving run to completion: the knn_batch query " +
      "vectors stream through VectorServing.servePqKnn in two " +
      "micro-batches; each batch scores the codes column against its " +
      "per-query ADC tables in one pass, keeping a shortlist-20 heap " +
      "per query in each task, and exact-rescores only the shortlist. The hashed " +
      "result is the FINAL sink table; the oracle is the one-shot " +
      "ann_pq_batch SQL (single builder) — green proves the streaming " +
      "PQ loop reproduces the batch answer regardless of batching.",
    (s, dir) => {
      val out = PqServeStore.ensure(s, dir)
      s.read.parquet(out)
        .select(col("query_id"), col("knn_rank").cast("long").as("knn_rank"),
          col("vec_id"), col("distance"))
        .orderBy(col("query_id"), col("knn_rank"))
    },
    oracle = None,
    oracleLate = Some(() =>
      VectorQueries.PqStore.lastDir
        .flatMap(VectorQueries.PqStore.books.get)
        .map(VectorQueries.duckPqBatchSql)))

  /** One run-to-completion NSW serving stream per (sfDir, JVM): the
    * knn_batch query vectors replay as two MemoryStream micro-batches
    * through [[VectorServing.serveNswKnn]] over the SAME persisted
    * graph store `ann_nsw_beam` reads (VectorQueries.NswStore). The
    * per-query candidate ids recorded across batches feed the
    * late-bound oracle.
    */
  private object NswServeStore {
    private val done = scala.collection.concurrent.TrieMap.empty[String, String]
    val cands = scala.collection.concurrent.TrieMap.empty[String, Map[Int, Seq[Long]]]
    @volatile var lastDir: Option[String] = None

    def ensure(s: SparkSession, dir: String): String = {
      lastDir = Some(dir)
      done.getOrElseUpdate(dir, {
        val root = TmpStores.pidScopedPath("graft_stream_nswserve", dir)
        new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
        val out = s"$root/results"
        val graph = graft.operators.Nsw.readGraph(s,
          VectorQueries.NswStore.ensure(s, dir))
        import s.implicits._
        val input = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Int, Seq[Float])](s)
        val qvecs = VectorQueries.batchQueryVecs.map { case (i, v) => (i, v.toSeq) }
        // shard centroids = the router's index metadata, computed ONCE
        // per store (nShards·dim doubles), exactly like IVF centroids —
        // every micro-batch then routes per query instead of beaming
        // all shards (r17 verdict #1b).
        val cents = graft.operators.Nsw.shardCentroids(graph)
        val q = VectorServing.serveNswKnn(
          input.toDF().toDF("query_id", "query_vec"), graph,
          "vec_id", "query_vec", "query_id", k = 3,
          VectorQueries.NswStore.params, s"$root/ckpt",
          route = Some((cents, 2))) { batchCands =>
          cands(dir) = cands.getOrElse(dir, Map.empty) ++ batchCands
        } { batchOut =>
          batchOut.write.mode("append").parquet(out)
        }
        try {
          input.addData(qvecs.take(3)); q.processAllAvailable()
          input.addData(qvecs.drop(3)); q.processAllAvailable()
        } finally q.stop()
        out
      })
    }
  }

  private val streamServeNsw = QueryDef(
    "stream_serve_nsw",
    "Micro-batch graph-ANN serving run to completion, now ROUTED: the " +
      "knn_batch query vectors stream through VectorServing.serveNswKnn " +
      "in two micro-batches over the SAME persisted shard-partitioned " +
      "NSW store ann_nsw_beam reads; each query in a batch beams only " +
      "its 2 centroid-nearest shards (shard centroids computed once per " +
      "store — index metadata, the IVF-centroid contract), the scan " +
      "prunes to the batch's routed-shard union of the graph exchange " +
      "the stream opened once, and the exact re-rank runs in the beam " +
      "tasks over candidate-sized data per query — per-query serving " +
      "cost is the router's constant-in-corpus bound where the r17 " +
      "path beamed every shard per batch. The hashed result is the " +
      "FINAL sink table; the late oracle re-ranks each query's " +
      "recorded candidate set in SQL — green proves the streaming " +
      "loop, the store round trip, the router wiring, and the exact " +
      "re-rank, independent of how the query stream was batched.",
    (s, dir) => {
      val out = NswServeStore.ensure(s, dir)
      s.read.parquet(out)
        .select(col("query_id"), col("knn_rank").cast("long").as("knn_rank"),
          col("vec_id"), col("distance"))
        .orderBy(col("query_id"), col("knn_rank"))
    },
    oracle = None,
    oracleLate = Some(() =>
      NswServeStore.lastDir.flatMap(NswServeStore.cands.get)
        .map(VectorQueries.duckBatchRerank(_, k = 3))))

  /** One run-to-completion COST-ROUTED serving stream per (sfDir, JVM):
    * the knn_batch query vectors replay as two MemoryStream
    * micro-batches (2 then 3 queries) through
    * [[VectorServing.serveAutoKnn]] — every micro-batch is priced by
    * the batch-aware four-way byte model over the SAME hybrid/NSW/PQ
    * stores the batch gates read, and served on the family the model
    * picks. Each batch's candidate ids are recorded for the late
    * oracle (which replays the decisions itself).
    */
  private object AutoServeStore {
    private val done = scala.collection.concurrent.TrieMap.empty[String, String]
    val cands = scala.collection.concurrent.TrieMap
      .empty[String, Map[String, Map[Int, Seq[Long]]]]
    @volatile var lastDir: Option[String] = None

    def legs: Seq[(String, Seq[(Int, Array[Float])])] = Seq(
      "mb0" -> VectorQueries.batchQueryVecs.take(2),
      "mb1" -> VectorQueries.batchQueryVecs.drop(2))

    def ensure(s: SparkSession, dir: String): String = {
      lastDir = Some(dir)
      done.getOrElseUpdate(dir, {
        val root = TmpStores.pidScopedPath("graft_stream_autoserve", dir)
        new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
        val out = s"$root/results"
        val corpus = Tables.embeddings(s, dir)
        val cents = graft.operators.Ann.seededCentroids(
          corpus, "embedding", "vec_id", nlist = 8)
        val planes = graft.operators.Ann.signPlanes(dim = 64, nBits = 8)
        val (path, clusterRows, bucketRows) =
          VectorQueries.HybridIndexStore.ensure(s, dir, cents, planes)
        val idx = VectorServing.AutoServingIndexes(
          graft.plans.IvfCatalog.IvfIndex(cents, 3, clusterRows),
          graft.plans.LshCatalog.LshIndex(planes, 2, bucketRows),
          graft.operators.Ann.readIndexed(s, path),
          graft.operators.Nsw.readGraph(s, VectorQueries.NswStore.ensure(s, dir)),
          corpus,
          VectorQueries.NswRouterStore.ensure(s, dir),
          VectorQueries.NswRouterStore.nprobe, VectorQueries.NswStore.params,
          graft.operators.Pq.readEncoded(s, VectorQueries.PqCodeStore.ensure(s, dir)),
          VectorQueries.PqStore.ensure(s, dir),
          dim = 64, corpusRows = clusterRows.values.sum,
          pqM = VectorQueries.PqStore.M, pqShortlist = 16)
        import s.implicits._
        val input = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Int, Seq[Float])](s)
        val qvecs = VectorQueries.batchQueryVecs.map { case (i, v) => (i, v.toSeq) }
        val q = VectorServing.serveAutoKnn(
          input.toDF().toDF("query_id", "query_vec"), idx,
          "embedding", "vec_id", "query_vec", "query_id", k = 3,
          s"$root/ckpt") { (batchId, _, cds) =>
          cands(dir) = cands.getOrElse(dir, Map.empty) + (s"mb$batchId" -> cds)
        } { batchOut =>
          batchOut.write.mode("append").parquet(out)
        }
        try {
          input.addData(qvecs.take(2)); q.processAllAvailable()
          input.addData(qvecs.drop(2)); q.processAllAvailable()
        } finally q.stop()
        out
      })
    }
  }

  private val streamServeAuto = QueryDef(
    "stream_serve_auto",
    "COST-ROUTED micro-batch serving run to completion (r18 verdict " +
      "#1): the knn_batch query vectors stream through " +
      "VectorServing.serveAutoKnn in two micro-batches (2 then 3 " +
      "queries); EACH batch is priced by the batch-aware four-way " +
      "byte model (IvfProbeRule.priceServing — PQ's shared ADC scan " +
      "amortizes across the batch, the graph router and probe paths " +
      "pay per query) and served on the family it picks over the " +
      "same persisted hybrid/NSW/PQ stores the batch gates read. The " +
      "per-batch decision and all four byte totals ride every output " +
      "row; the late oracle replays each micro-batch's decision in " +
      "SQL (probe sets, closed forms, argmin, ivf-precedence ties) " +
      "and re-ranks its chosen candidates (probe membership for " +
      "ivf/lsh, THIS run's recorded shortlist/beam ids for pq/hnsw) " +
      "— the single duckDispatchOracle builder shared with " +
      "ann_cost_serving_batch, so streamed ≡ priced-batch is " +
      "structural. At the fixture corpus both batches price pq; at " +
      "sf0.1+ the 2-query batch flips to the graph router — the " +
      "dispatch, not the fixture, is what is under test.",
    (s, dir) => {
      val out = AutoServeStore.ensure(s, dir)
      s.read.parquet(out)
        .select(col("batch_size"), col("query_id"), col("knn_rank"),
          col("vec_id"), col("chosen_index"), col("est_ivf_b"),
          col("est_lsh_b"), col("est_hnsw_b"), col("est_pq_b"),
          col("distance"))
        .orderBy(col("batch_size"), col("query_id"), col("knn_rank"))
    },
    oracle = None,
    oracleLate = Some(() =>
      AutoServeStore.lastDir.map { d =>
        VectorQueries.duckDispatchOracle(AutoServeStore.legs,
          AutoServeStore.cands.getOrElse(d, Map.empty))
      }))

  private val streamServe = QueryDef(
    "stream_serve_knn",
    "Micro-batch KNN serving run to completion: the knn_batch query " +
      "vectors stream through VectorServing.serveKnn in two " +
      "micro-batches, each scored top-3 against the embeddings corpus " +
      "with the broadcast-query BNLJ + per-query rank plan, results " +
      "appended per batch to a parquet sink. The hashed result is the " +
      "FINAL sink table; the oracle is the one-shot batch SQL — green " +
      "proves the incremental serving loop reproduces the batch answer " +
      "regardless of how the query stream was batched.",
    (s, dir) => {
      val out = ServeStore.ensure(s, dir)
      s.read.parquet(out)
        .select(col("query_id"), col("knn_rank").cast("long").as("knn_rank"),
          col("vec_id"), col("distance"))
        .orderBy(col("query_id"), col("knn_rank"))
    },
    // the SAME SQL that gates knn_batch — single builder, so the
    // "streamed ≡ batch" premise is structural, not a copy
    Some(VectorQueries.duckBatchKnnSql(k = 3)))

  /** One run-to-completion CDC apply stream per (sfDir, JVM): the
    * orders change feed (the SAME deterministic three-class batch the
    * cdc_merge_into gate uses) replays as two mtime-ordered file
    * micro-batches — updates+deletes first, inserts second — and each
    * batch MERGEs into a versioned parquet snapshot via
    * [[graft.streaming.CdcApply]]. The classes touch disjoint keys, so
    * the sequential apply must equal the one-shot merge.
    */
  private object CdcApplyStore {
    def ensure(s: SparkSession, dir: String): String =
      TmpStores.memoizedTable("graft_stream_cdcapply", dir) { root =>
        // localCheckpoint: the build reads orders FOUR times (v0 write,
        // updates, deletes, inserts) — materialize once (r22 §1.2)
        val ord = Tables.orders(s, dir).localCheckpoint()
        val t0 = s"$root/v0"
        ord.write.parquet(t0)
        val (updates, deletes, inserts) = MaintenanceQueries.orderChangeBatches(ord)
        val staging = s"$root/staging"
        TmpStores.stageFile(updates.unionByName(deletes), staging, "batch1", 120000L)
        TmpStores.stageFile(inserts, staging, "batch2", 60000L)
        val feedSchema = updates.schema
        val stream = s.readStream.schema(feedSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(staging)
        val applied = graft.streaming.CdcApply.applyStream(
          stream, t0, root, Seq("o_orderkey"),
          updateCols = Seq("o_orderpriority", "o_totalprice"),
          deleteCol = "is_delete", checkpoint = s"$root/ckpt")
        applied.query.awaitTermination()
        applied.current
      }
  }

  private val streamCdcApply = QueryDef(
    "stream_cdc_apply",
    "Streaming CDC apply run to completion (AvailableNow): the orders " +
      "change feed replays as two mtime-ordered file micro-batches " +
      "(updates+deletes, then inserts), each MERGEd into a NEW " +
      "versioned snapshot with the pointer flipped only after the " +
      "write commits. The registered query aggregates the FINAL " +
      "snapshot with the same fidelity aggregate as cdc_merge_into, " +
      "and the oracle is the SAME one-shot-merge SQL — a green hash " +
      "proves per-batch apply composes to the batch answer.",
    (s, dir) => {
      val finalPath = CdcApplyStore.ensure(s, dir)
      MaintenanceQueries.mergedOrdersAgg(s.read.parquet(finalPath))
    },
    Some(MaintenanceQueries.mergedOrdersOracleSql))

  /** One run-to-completion trending aggregation per (sfDir, JVM): the
    * events fixture replays as two mtime-ordered file micro-batches
    * (event_id parity split — batching must not matter, that's the
    * point) through a 1-day tumbling-window count per event type in
    * COMPLETE output mode, each micro-batch overwriting an idempotent
    * parquet snapshot via foreachBatch. The final snapshot therefore
    * holds the full-history aggregation state — which must equal the
    * one-shot batch GROUP BY, the oracle.
    */
  private object TrendingStore {
    def ensure(s: SparkSession, dir: String): String =
      TmpStores.memoizedTable("graft_stream_trending", dir) { root =>
        val ev = Tables.events(s, dir)
        val staging = s"$root/staging"
        TmpStores.stageBatches(ev, staging, Seq(
          ("batch1", pmod(col("event_id"), lit(2)) === 0, 120000L),
          ("batch2", pmod(col("event_id"), lit(2)) === 1, 60000L)))
        val out = s"$root/agg"
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(staging)
        val counts = stream
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val q = counts.writeStream
          .outputMode("complete")
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("overwrite").parquet(out); ()
          }
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        out
      }
  }

  private val streamTrending = QueryDef(
    "stream_trending_topk",
    "Streaming trending-top-k run to completion: events replay as two " +
      "file micro-batches through a 1-day tumbling count per event " +
      "type in COMPLETE mode, foreachBatch overwriting an idempotent " +
      "snapshot (the complete-mode aggregation pattern the other " +
      "streaming gates don't cover). The registered query ranks the " +
      "FINAL snapshot — top 3 types per day — and the oracle is the " +
      "one-shot batch GROUP BY + rank SQL: a green hash proves the " +
      "stateful streaming aggregation composes across micro-batches to " +
      "exactly the batch answer.",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val agg = s.read.parquet(TrendingStore.ensure(s, dir))
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"))
      val w = Window.partitionBy(col("day")).orderBy(col("n").desc, col("event_type"))
      agg.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("day"), col("rnk").cast("long").as("rnk"), col("event_type"), col("n"))
        .orderBy(col("day"), col("rnk"))
    },
    Some("""
      |WITH c AS (
      |  SELECT strftime(ts::TIMESTAMP, '%Y-%m-%d') AS day, event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), r AS (
      |  SELECT day, event_type, n,
      |         row_number() OVER (PARTITION BY day ORDER BY n DESC, event_type) AS rnk
      |  FROM c
      |)
      |SELECT day, rnk, event_type, n FROM r WHERE rnk <= 3 ORDER BY day, rnk
      """.stripMargin.trim))

  /** Three-batch replay with DELIBERATE late data for the watermark
    * audit: batch1 = the first 15 days minus a deterministic straggler
    * subset (event_id % 11 = 0), batch2 = the remaining days, batch3 =
    * the stragglers alone — rows up to 15 days older than the
    * watermark frontier. THREE batches, not two, because of Spark's
    * two-watermark rule (SPARK-24634): a batch filters late input
    * with the PREVIOUS batch's watermark and evicts state with the
    * current one — so stragglers riding in batch2 would still meet a
    * zero late-filter (measured: zero drops on the two-batch replay);
    * only in batch3 has the late-filter frontier itself advanced past
    * their windows. 48 h watermark, 1-day tumbling counts, APPEND
    * mode straight to a parquet sink (the emission semantics none of
    * the other streaming gates exercise: a window only reaches the
    * sink once the watermark passes its end).
    */
  private object LateAuditStore {
    val SplitOffsetUs: Long = 15L * 86400L * 1000000L
    val DelayMs: Long = 172800000L

    def ensure(s: SparkSession, dir: String): String =
      TmpStores.memoizedTable("graft_stream_lateaudit", dir) { root =>
        val ev = Tables.events(s, dir)
        val minUs = ev.agg(min(unix_micros(col("ts")))).head().getLong(0)
        val splitUs = minUs + SplitOffsetUs
        val early = unix_micros(col("ts")) < splitUs
        val straggler = pmod(col("event_id"), lit(11)) === 0
        val staging = s"$root/staging"
        // ONE events pass stages all three batches (r22, guide §1.2 —
        // was three full scans via the per-batch stageFile loop)
        TmpStores.stageBatches(ev, staging, Seq(
          ("batch1", early && !straggler, 180000L),
          ("batch2", !early, 120000L),
          ("batch3", early && straggler, 60000L)))
        val out = s"$root/agg"
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(staging)
        val q = stream
          .withWatermark("ts", "48 hours")
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        out
      }
  }

  private val streamLateAudit = QueryDef(
    "stream_late_audit",
    "Watermark late-data accounting, run to completion in APPEND mode: " +
      "events replay as three micro-batches where the last carries " +
      "only stragglers up to 15 days old against a 48 h watermark and " +
      "a 1-day tumbling aggregation writing straight to a parquet " +
      "sink. The audit joins the sink against the one-shot batch " +
      "counts: n_late_dropped is exactly the rows the engine refused " +
      "because their window had already closed, and windows the final " +
      "watermark never passed stay out of the sink (still in state at " +
      "shutdown). The oracle restates Spark's TWO-watermark algebra " +
      "(SPARK-24634) in SQL — a batch's late-filter frontier is the " +
      "PREVIOUS batch's watermark, so the straggler batch is filtered " +
      "at (max batch-1 event-time ms) − 48 h while emission runs to " +
      "the final frontier — a green hash pins the engine's late-drop " +
      "and emission semantics, not just its sums.",
    (s, dir) => {
      val sink = s.read.parquet(LateAuditStore.ensure(s, dir))
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n").as("n_streamed"))
      val full = Tables.events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n_total"))
      sink.join(full, Seq("day", "event_type"))
        .select(col("day"), col("event_type"), col("n_streamed"),
          col("n_total"),
          (col("n_total") - col("n_streamed")).as("n_late_dropped"))
        .orderBy(col("day"), col("event_type"))
    },
    Some("""
      |WITH ev AS (
      |  SELECT event_id, event_type, epoch_us(ts::TIMESTAMP) AS us FROM events
      |), bounds AS (
      |  SELECT min(us) + 1296000000000 AS split_us FROM ev
      |), b1 AS (
      |  SELECT ev.* FROM ev CROSS JOIN bounds
      |  WHERE us < split_us AND event_id % 11 <> 0
      |), wm1 AS (
      |  SELECT (max(us) // 1000 - 172800000) * 1000 AS wm1_us FROM b1
      |), wmf AS (
      |  SELECT (max(us) // 1000 - 172800000) * 1000 AS wmf_us FROM ev
      |), accepted AS (
      |  SELECT ev.event_type, us - (us % 86400000000) AS day_start_us
      |  FROM ev CROSS JOIN bounds CROSS JOIN wm1
      |  WHERE (us < split_us AND event_id % 11 <> 0)
      |     OR us >= split_us
      |     OR (us < split_us AND event_id % 11 = 0
      |         AND us - (us % 86400000000) + 86400000000 > wm1_us)
      |), sink AS (
      |  SELECT strftime(make_timestamp(day_start_us), '%Y-%m-%d') AS day,
      |         event_type, count(*) AS n_streamed
      |  FROM accepted CROSS JOIN wmf
      |  WHERE day_start_us + 86400000000 <= wmf_us
      |  GROUP BY 1, 2
      |), total AS (
      |  SELECT strftime(ts::TIMESTAMP, '%Y-%m-%d') AS day, event_type,
      |         count(*) AS n_total
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT day, event_type, n_streamed, n_total,
      |       n_total - n_streamed AS n_late_dropped
      |FROM sink JOIN total USING (day, event_type)
      |ORDER BY day, event_type
      """.stripMargin.trim))

  /** Two-batch replay through the streaming HLL register aggregation —
    * the constant-state streaming-cardinality pattern (complete-mode
    * max per (day, bucket); state is bounded at |days|·m registers no
    * matter how many events stream through, where exact streaming
    * distinct-count state grows with the key cardinality itself).
    */
  private object HllStreamStore {
    // 16 files per staged batch: staging writes run 16-way parallel
    // (stageFile's coalesce(1) funneled ~500M rows/batch through ONE
    // task at sf100 — r17 verdict #6) and maxFilesPerTrigger = 16
    // still consumes exactly one staged batch per trigger.
    private val FilesPerBatch = 16
    def ensure(s: SparkSession, dir: String): String =
      TmpStores.memoizedTable("graft_stream_hll", dir) { root =>
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("ts"), col("user_id"))
        val staging = s"$root/staging"
        TmpStores.stageBatches(ev, staging, Seq(
          ("batch1", pmod(col("event_id"), lit(2)) === 0, 120000L),
          ("batch2", pmod(col("event_id"), lit(2)) === 1, 60000L)),
          filesPerBatch = FilesPerBatch)
        val out = s"$root/regs"
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", FilesPerBatch)
          .parquet(staging)
          .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"))
        val regs = graft.operators.Sketches.hllRegisters(
          stream, "day", col("user_id"), p = 9)
        val q = regs.writeStream
          .outputMode("complete")
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("overwrite").parquet(out); ()
          }
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        out
      }
  }

  private val streamHllDaily = QueryDef(
    "stream_hll_daily",
    "Streaming daily-cardinality telemetry at CONSTANT state: events " +
      "replay as two file micro-batches through a complete-mode " +
      "max-per-(day, register) aggregation of the deterministic HLL " +
      "sketch (p=9 — state is |days|·512 BIGINTs regardless of event " +
      "or user volume, where a streaming count(DISTINCT) would hold " +
      "every user id in state; at 100 TB/day THIS is the affordable " +
      "shape of the DAU dashboard). Register max is order- and " +
      "batch-split-insensitive, so the streamed registers must equal " +
      "the batch registers EXACTLY — the registered query estimates " +
      "from the final streamed store next to the exact batch distinct, " +
      "and the oracle recomputes registers and estimate from scratch " +
      "in SQL: a green hash proves the cross-micro-batch streaming " +
      "state composed to the batch answer, register for register.",
    (s, dir) => {
      val regs = s.read.parquet(HllStreamStore.ensure(s, dir))
      val est = graft.operators.Sketches.hllEstimate(regs, "day", p = 9)
      val exact = Tables.events(s, dir)
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"))
        .groupBy(col("day")).agg(countDistinct(col("user_id")).as("n_exact"))
      exact.join(est, Seq("day"))
        .select(col("day"), col("n_exact"),
          round(col("hll_estimate"), 4).as("hll_estimate"),
          round((col("hll_estimate") - col("n_exact").cast("double")) /
            col("n_exact").cast("double"), 6).as("rel_err"))
        .orderBy(col("day"))
    },
    Some("""
      |WITH ev AS (
      |  SELECT strftime(ts::TIMESTAMP, '%Y-%m-%d') AS day, user_id FROM events
      |), h AS (
      |  SELECT day, ('0x' || substring(md5(user_id::VARCHAR), 1, 12))::BIGINT AS h
      |  FROM ev
      |), b AS (
      |  SELECT day, h & 511 AS bucket, h >> 9 AS w FROM h
      |), r AS (
      |  SELECT day, bucket,
      |         CASE WHEN w = 0 THEN 40 ELSE bit_count((w & -w) - 1) + 1 END AS rk
      |  FROM b
      |), regs AS (
      |  SELECT day, bucket, max(rk) AS reg FROM r GROUP BY 1, 2
      |), s AS (
      |  SELECT day,
      |         SUM(1::BIGINT << CAST(40 - reg AS INTEGER)) AS s_present,
      |         count(*) AS nb
      |  FROM regs GROUP BY 1
      |), f AS (
      |  SELECT day, s_present + (512 - nb) * 1099511627776 AS s_total FROM s
      |), e AS (
      |  SELECT day,
      |         (0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 512.0::DOUBLE))
      |           * 262144.0::DOUBLE * 1099511627776.0::DOUBLE / s_total::DOUBLE AS est
      |  FROM f
      |), x AS (
      |  SELECT day, count(DISTINCT user_id) AS n_exact FROM ev GROUP BY 1
      |)
      |SELECT x.day, x.n_exact,
      |       round(e.est, 4) AS hll_estimate,
      |       round((e.est - x.n_exact::DOUBLE) / x.n_exact::DOUBLE, 6) AS rel_err
      |FROM e JOIN x USING (day)
      |ORDER BY day
      """.stripMargin.trim))

  /** Two-batch replay through the streaming HDR-histogram aggregation —
    * the latency-percentile twin of [[HllStreamStore]] (r18 verdict
    * #2): hdr bucket counts merge by ADDITION, so the streaming form
    * is a complete-mode count per (event_type, bucket) with state
    * bounded at |types|·64·k rows regardless of event volume — where a
    * streaming exact percentile would hold every distinct value.
    * Values are exact cents via the DECIMAL(12,2) channel, +1 so the
    * zero-cent events the bigger fixtures contain stay inside
    * hdrBuckets' POSITIVE domain (HdrHistogram's standard offset for
    * zero-inclusive data; read-offs shift back).
    */
  private object HdrStreamStore {
    val K = 16
    def cents: org.apache.spark.sql.Column =
      (col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)) * 100)
        .cast("long") + lit(1L)

    def ensure(s: SparkSession, dir: String): String =
      TmpStores.memoizedTable("graft_stream_hdr", dir) { root =>
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        val staging = s"$root/staging"
        TmpStores.stageBatches(ev, staging, Seq(
          ("batch1", pmod(col("event_id"), lit(2)) === 0, 120000L),
          ("batch2", pmod(col("event_id"), lit(2)) === 1, 60000L)))
        val out = s"$root/buckets"
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(staging)
          .withColumn("c", cents)
        val counts = graft.operators.Sketches.hdrBuckets(stream, "c", K)
          .groupBy(col("event_type"), col("hdr_bucket"), col("hdr_pow"),
            col("hdr_sub"))
          .agg(count(lit(1)).as("cnt"))
        val q = counts.writeStream
          .outputMode("complete")
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("overwrite").parquet(out); ()
          }
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        out
      }
  }

  private val streamHdrQuantiles = QueryDef(
    "stream_hdr_quantiles",
    "Streaming latency-percentile telemetry at BOUNDED state: events " +
      "replay as two file micro-batches through a complete-mode " +
      "count per (event_type, hdr bucket) of the log2/linear " +
      "HdrHistogram sketch (k=16 — state is ≤ |types|·64·16 counts " +
      "at any event volume, where a streaming exact percentile holds " +
      "every distinct value; this pairs with stream_hll_daily exactly " +
      "as sketch_hdr pairs with sketch_hll). Bucket counts merge by " +
      "addition, so the streamed snapshot must equal the batch bucket " +
      "table EXACTLY — the registered query walks the FINAL streamed " +
      "buckets for p50/p90/p99 per event type (targets in exact " +
      "BIGINT, one double division at the midpoint) with the exact " +
      "batch percentile beside it as the yardstick, and the oracle " +
      "recomputes buckets, cumulative walk, targets, midpoints and " +
      "the exact leg from scratch in SQL: a green hash proves the " +
      "cross-micro-batch counts composed to the batch answer, bucket " +
      "for bucket. Values ride the exact DECIMAL cents channel +1 " +
      "(the zero-inclusive HdrHistogram offset — sf0.1+ fixtures " +
      "contain 0.00 values; estimates and exact legs shift back on " +
      "read-off, rel_err reads off the shifted domain to keep the " +
      "denominator positive).",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val k = HdrStreamStore.K
      val counts = s.read.parquet(HdrStreamStore.ensure(s, dir))
      val wCum = Window.partitionBy(col("event_type")).orderBy(col("hdr_bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("event_type"))
      val withCum = counts
        .withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("n", sum(col("cnt")).over(wAll))
      val qDf = Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L))
        .toDF("q", "qnum", "qden")
      val est = withCum.crossJoin(broadcast(qDf))
        .withColumn("target", expr("(n * qnum + qden - 1) div qden"))
        .filter(col("cum") >= col("target"))
        .groupBy(col("event_type"), col("q"))
        .agg(min(struct(col("hdr_bucket"), col("hdr_pow"), col("hdr_sub"),
          col("n"))).as("m"))
        .select(col("event_type"), col("q"), col("m.n").as("n"),
          (col("m.hdr_pow") * (col("m.hdr_sub") * 2 + lit(2 * k + 1)) /
            lit((2 * k).toDouble)).as("est"))
      val base = Tables.events(s, dir)
        .select(col("event_type"), HdrStreamStore.cents.as("c"))
      val exactVals = base.groupBy(col("event_type"), col("c"))
        .agg(count(lit(1)).as("vc"))
        .withColumn("vcum", sum(col("vc")).over(
          Window.partitionBy(col("event_type")).orderBy(col("c"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum(col("vc")).over(wAll))
      val exact = exactVals.crossJoin(broadcast(qDf))
        .withColumn("target", expr("(n * qnum + qden - 1) div qden"))
        .filter(col("vcum") >= col("target"))
        .groupBy(col("event_type"), col("q"))
        .agg(min(col("c")).as("exact_shift"))
      est.join(exact, Seq("event_type", "q"))
        .select(col("event_type"), col("q"), col("n"),
          round(col("est") - lit(1.0), 4).as("est_cents"),
          (col("exact_shift") - lit(1L)).as("exact_cents"),
          round((col("est") - col("exact_shift").cast("double")) /
            col("exact_shift").cast("double"), 6).as("rel_err"))
        .orderBy(col("event_type"), col("q"))
    },
    Some("""
      |WITH v AS (
      |  SELECT event_type, CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) + 1 AS c
      |  FROM events
      |), b AS (
      |  SELECT event_type, c, (length(bin(c)) - 1) AS e,
      |         (1::BIGINT << (length(bin(c)) - 1)) AS pow
      |  FROM v
      |), bk AS (
      |  SELECT event_type, e::BIGINT * 16 + ((c - pow) * 16) // pow AS bucket,
      |         pow, ((c - pow) * 16) // pow AS sub, count(*) AS cnt
      |  FROM b GROUP BY 1, 2, 3, 4
      |), cum AS (
      |  SELECT event_type, bucket, pow, sub, cnt,
      |         sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
      |                        ROWS UNBOUNDED PRECEDING) AS cum,
      |         sum(cnt) OVER (PARTITION BY event_type) AS n
      |  FROM bk
      |), qs AS (
      |  SELECT * FROM (VALUES ('p50', 1::BIGINT, 2::BIGINT),
      |                        ('p90', 9::BIGINT, 10::BIGINT),
      |                        ('p99', 99::BIGINT, 100::BIGINT)) t(q, qnum, qden)
      |), est AS (
      |  SELECT event_type, q, min(n) AS n,
      |         min_by(pow * (sub * 2 + 33), bucket) / 32.0 AS est
      |  FROM cum CROSS JOIN qs
      |  WHERE cum >= (n * qnum + qden - 1) // qden
      |  GROUP BY 1, 2
      |), ex AS (
      |  SELECT event_type, c, count(*) AS vc FROM v GROUP BY 1, 2
      |), excum AS (
      |  SELECT event_type, c,
      |         sum(vc) OVER (PARTITION BY event_type ORDER BY c
      |                       ROWS UNBOUNDED PRECEDING) AS vcum,
      |         sum(vc) OVER (PARTITION BY event_type) AS n
      |  FROM ex
      |), exact AS (
      |  SELECT event_type, q, min(c) AS exact_shift
      |  FROM excum CROSS JOIN qs
      |  WHERE vcum >= (n * qnum + qden - 1) // qden
      |  GROUP BY 1, 2
      |)
      |SELECT e.event_type, e.q, e.n::BIGINT AS n,
      |       round(e.est - 1.0, 4) AS est_cents,
      |       (x.exact_shift - 1)::BIGINT AS exact_cents,
      |       round((e.est - x.exact_shift::DOUBLE) / x.exact_shift::DOUBLE, 6)
      |         AS rel_err
      |FROM est e JOIN exact x USING (event_type, q)
      |ORDER BY event_type, q
      """.stripMargin.trim))

  /** The two-batch day-15 time-split staging of `events` shared by all
    * three CEP replays (match / negation / 3-step): the staged content
    * is IDENTICAL across the three stores — same projection, same
    * split, same batch ages — so it is built once per (fixture, JVM)
    * instead of three times (guide §1.2: before r21 each CEP query's
    * timed region re-paid an events scan, a min(ts) action and two
    * staged parquet writes for bytes the sibling had already staged).
    * Each matcher still runs its OWN streaming replay over this
    * staging; only the staged input is shared.
    */
  private object CepStagingStore {
    def schema(s: SparkSession, dir: String): org.apache.spark.sql.types.StructType =
      Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        .schema
    def ensure(s: SparkSession, dir: String): String =
      TmpStores.memoizedTable("graft_cep_staging", dir) { root =>
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        val minUs = ev.agg(min(unix_micros(col("ts")))).head().getLong(0)
        val splitUs = minUs + 15L * 86400L * 1000000L
        val staging = s"$root/staging"
        TmpStores.stageBatches(ev, staging, Seq(
          ("batch1", unix_micros(col("ts")) < splitUs, 120000L),
          ("batch2", unix_micros(col("ts")) >= splitUs, 60000L)))
        staging
      }
  }

  /** Two-batch time-split replay through the CEP matcher — batches cut
    * at day 15 so batch2's events all sit at-or-after batch1's
    * watermark frontier (no late drops; the stream ≡ batch contract
    * holds exactly). view→purchase within 6 h is the funnel-alert
    * pattern over the fixture's event mix.
    */
  private object CepStore {
    val WithinMs: Long = 6L * 3600L * 1000L
    def ensure(s: SparkSession, dir: String): String =
      TmpStores.memoizedTable("graft_stream_cep", dir) { root =>
        val staging = CepStagingStore.ensure(s, dir)
        val out = s"$root/matches"
        val stream = s.readStream.schema(CepStagingStore.schema(s, dir))
          .option("maxFilesPerTrigger", 1)
          .parquet(staging)
        import s.implicits._
        val matches = graft.streaming.PatternMatch.matchAThenB(
          stream.withWatermark("ts", "0 seconds")
            .as[graft.streaming.PatternMatch.EventIn],
          aType = "view", bType = "purchase", withinMs = WithinMs)
        val q = matches.writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        out
      }
  }

  private val streamPatternMatch = QueryDef(
    "stream_pattern_match",
    "Streaming CEP pattern match run to completion: view-then-purchase " +
      "within 6 h per user via flatMapGroupsWithState (the fraud/" +
      "funnel-alert shape windowed aggregation cannot express — the " +
      "condition relates two individual EVENTS), replayed as two " +
      "time-split file micro-batches. State is ONE (ts, id) pair per " +
      "user — constant per key at any event volume — evicted by " +
      "event-time timeout once the watermark passes a.ts + 6 h (an " +
      "expired partial match emits NOTHING; the timeout only bounds " +
      "state). Match semantics are deliberately SQL-replayable — each " +
      "purchase pairs with the LATEST preceding view in window, views " +
      "are not consumed, ms precision with event_id tie-break — so " +
      "the oracle is the one-shot batch join with an argmax window: a " +
      "green hash proves the incremental matcher reproduces the batch " +
      "answer across the batch boundary (pending views from batch 1 " +
      "matching purchases in batch 2). PatternMatchSpec covers " +
      "timeout-expired partials and the state-eviction metrics.",
    (s, dir) => {
      s.read.parquet(CepStore.ensure(s, dir))
        .select(col("user_id"), col("a_event_id"),
          unix_millis(col("a_ts")).as("a_ts_ms"),
          col("b_event_id"), unix_millis(col("b_ts")).as("b_ts_ms"),
          col("gap_ms"))
        .orderBy(col("user_id"), col("b_ts_ms"), col("b_event_id"),
          col("a_event_id"))
    },
    Some(s"""
      |WITH a AS (
      |  SELECT user_id, epoch_ms(ts::TIMESTAMP) AS a_ms, event_id FROM events
      |  WHERE event_type = 'view'
      |), b AS (
      |  SELECT user_id, epoch_ms(ts::TIMESTAMP) AS b_ms, event_id FROM events
      |  WHERE event_type = 'purchase'
      |), m AS (
      |  -- LEX-order argmax, window tested AFTER it (stream-exact: the
      |  -- pending A is the latest (ts, id)-preceding A regardless of
      |  -- window, and the gap test happens at match time — so a
      |  -- same-ms A correctly MASKS an older in-window A, where the
      |  -- previous in-window-first argmax would have emitted it;
      |  -- r19 tightening, measure-zero on real fixtures)
      |  SELECT b.user_id, a.event_id AS a_event_id, a.a_ms,
      |         b.event_id AS b_event_id, b.b_ms, b.b_ms - a.a_ms AS gap_ms,
      |         row_number() OVER (PARTITION BY b.user_id, b.event_id
      |                            ORDER BY a.a_ms DESC, a.event_id DESC) AS rn
      |  FROM b JOIN a ON a.user_id = b.user_id
      |   AND (a.a_ms < b.b_ms OR (a.a_ms = b.b_ms AND a.event_id < b.event_id))
      |)
      |SELECT user_id, a_event_id, a_ms AS a_ts_ms, b_event_id,
      |       b_ms AS b_ts_ms, gap_ms
      |FROM m WHERE rn = 1 AND gap_ms BETWEEN 1 AND ${CepStore.WithinMs}
      |ORDER BY user_id, b_ts_ms, b_event_id, a_event_id
      """.stripMargin.trim))

  /** Two-batch time-split replay through the CEP NEGATION matcher —
    * the same day-15 cut as [[CepStore]] (batch 2 never carries rows
    * behind batch 1's watermark frontier), so alerts pending across
    * the boundary are suppressed or fired exactly as the batch algebra
    * says.
    */
  private object CepNotStore {
    val WithinMs: Long = 6L * 3600L * 1000L
    def ensure(s: SparkSession, dir: String): String =
      TmpStores.memoizedTable("graft_stream_cepnot", dir) { root =>
        val staging = CepStagingStore.ensure(s, dir)
        val out = s"$root/alerts"
        val stream = s.readStream.schema(CepStagingStore.schema(s, dir))
          .option("maxFilesPerTrigger", 1)
          .parquet(staging)
        import s.implicits._
        val alerts = graft.streaming.PatternMatch.matchAThenNotB(
          stream.withWatermark("ts", "0 seconds")
            .as[graft.streaming.PatternMatch.EventIn],
          aType = "view", bType = "purchase", withinMs = WithinMs)
        val q = alerts.writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        out
      }
  }

  private val streamPatternTimeout = QueryDef(
    "stream_pattern_timeout",
    "Streaming CEP NEGATION run to completion — view-then-NO-purchase " +
      "within 6 h per user (the churn/abandonment alert; Flink CEP's " +
      "notFollowedBy closed by a window): the complement of " +
      "stream_pattern_match, and the first gate to exercise TIMEOUT-" +
      "EMISSION semantics — state.hasTimedOut EMITS the expired A " +
      "instead of just bounding state (r18 verdict #3). Two time-split " +
      "file micro-batches; an in-window purchase SUPPRESSES the alert " +
      "even when it arrives in a later micro-batch than its view, an " +
      "in-window newer view supersedes silently (the clock restarts), " +
      "and views whose window the final watermark never passed stay " +
      "undecided and emit nothing. The ONLY emission proof is the " +
      "WATERMARK (r19 ADVICE: an observed event's ts never proves the " +
      "window closed — an above-watermark suppressor can still arrive " +
      "in a LATER micro-batch), and suppressors persist as merged " +
      "spans, so the output is invariant to ANY admissible delivery " +
      "order, not just time-split replays; state is ≤ 2·(lag/window " +
      "+ 2) flat records per user regardless of event rate. The oracle " +
      "is the one-shot batch ANTI-JOIN over the window (no B in " +
      "(0, 6h], no superseding A, deadline behind the final " +
      "watermark): a green hash proves the incremental negation — " +
      "including cross-batch suppression and the watermark cut — " +
      "reproduces the batch answer row for row. PatternMatchSpec " +
      "covers timeout emission, later-micro-batch suppression, " +
      "supersession, split invariance, and a randomized out-of-order " +
      "delivery property vs a batch-anti-join oracle.",
    (s, dir) => {
      s.read.parquet(CepNotStore.ensure(s, dir))
        .select(col("user_id"), col("a_event_id"),
          unix_millis(col("a_ts")).as("a_ts_ms"),
          unix_millis(col("deadline_ts")).as("deadline_ms"))
        .orderBy(col("user_id"), col("a_ts_ms"), col("a_event_id"))
    },
    Some(s"""
      |WITH a AS (
      |  SELECT user_id, epoch_ms(ts::TIMESTAMP) AS a_ms, event_id FROM events
      |  WHERE event_type = 'view'
      |), b AS (
      |  SELECT user_id, epoch_ms(ts::TIMESTAMP) AS b_ms FROM events
      |  WHERE event_type = 'purchase'
      |), wmf AS (
      |  SELECT max(epoch_ms(ts::TIMESTAMP)) AS wm FROM events
      |)
      |SELECT a.user_id, a.event_id AS a_event_id, a.a_ms AS a_ts_ms,
      |       a.a_ms + ${CepNotStore.WithinMs} AS deadline_ms
      |FROM a CROSS JOIN wmf
      |WHERE a.a_ms + ${CepNotStore.WithinMs} < wmf.wm
      |  AND NOT EXISTS (
      |    SELECT 1 FROM b WHERE b.user_id = a.user_id
      |      AND b.b_ms - a.a_ms BETWEEN 1 AND ${CepNotStore.WithinMs})
      |  AND NOT EXISTS (
      |    SELECT 1 FROM a a2 WHERE a2.user_id = a.user_id
      |      AND ((a2.a_ms - a.a_ms BETWEEN 1 AND ${CepNotStore.WithinMs})
      |           OR (a2.a_ms = a.a_ms AND a2.event_id > a.event_id)))
      |ORDER BY user_id, a_ts_ms, a_event_id
      """.stripMargin.trim))

  /** Two-batch time-split replay through the THREE-step CEP matcher —
    * same day-15 cut as [[CepStore]].
    */
  private object Cep3Store {
    val WithinMs: Long = 6L * 3600L * 1000L
    def ensure(s: SparkSession, dir: String): String =
      TmpStores.memoizedTable("graft_stream_cep3", dir) { root =>
        val staging = CepStagingStore.ensure(s, dir)
        val out = s"$root/matches"
        val stream = s.readStream.schema(CepStagingStore.schema(s, dir))
          .option("maxFilesPerTrigger", 1)
          .parquet(staging)
        import s.implicits._
        val matches = graft.streaming.PatternMatch.matchAThenBThenC(
          stream.withWatermark("ts", "0 seconds")
            .as[graft.streaming.PatternMatch.EventIn],
          aType = "view", bType = "click", cType = "purchase",
          withinMs = WithinMs)
        val q = matches.writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        out
      }
  }

  private val streamPattern3Step = QueryDef(
    "stream_pattern_3step",
    "Streaming THREE-step CEP run to completion: view-then-click-then-" +
      "purchase, each step within 6 h of the previous, per user — the " +
      "funnel with an intermediate stage (Flink CEP's followedBy " +
      "chain), replayed as two time-split file micro-batches. State " +
      "is ONE flat record per key (latest A + latest VALID (A,B) " +
      "partial — a B pairs with its latest lex-preceding A and only " +
      "an in-window pairing arms the partial; an invalid B changes " +
      "nothing), each piece independently evicted by event-time " +
      "timeout past ITS OWN expiry with the timeout re-armed at the " +
      "earliest live expiry; every in-window C emits (nothing is " +
      "consumed). Semantics are the batch DOUBLE-argmax join — B* = " +
      "latest valid B lex-before C, A* = latest A lex-before B* — so " +
      "the oracle is one-shot SQL with two lex-order argmax windows: " +
      "a green hash proves the incremental two-slot state composes " +
      "across the batch boundary (an (A,B) armed in batch 1 matching " +
      "a batch-2 C) to the batch answer row for row. " +
      "PatternMatchSpec covers validity gating, partial re-arming, " +
      "per-piece expiry, and the stream ≡ batch differential.",
    (s, dir) => {
      s.read.parquet(Cep3Store.ensure(s, dir))
        .select(col("user_id"), col("a_event_id"),
          unix_millis(col("a_ts")).as("a_ts_ms"),
          col("b_event_id"), unix_millis(col("b_ts")).as("b_ts_ms"),
          col("c_event_id"), unix_millis(col("c_ts")).as("c_ts_ms"),
          col("gap_ab_ms"), col("gap_bc_ms"))
        .orderBy(col("user_id"), col("c_ts_ms"), col("c_event_id"),
          col("b_event_id"), col("a_event_id"))
    },
    Some(s"""
      |WITH a AS (
      |  SELECT user_id, epoch_ms(ts::TIMESTAMP) AS a_ms, event_id FROM events
      |  WHERE event_type = 'view'
      |), b AS (
      |  SELECT user_id, epoch_ms(ts::TIMESTAMP) AS b_ms, event_id FROM events
      |  WHERE event_type = 'click'
      |), c AS (
      |  SELECT user_id, epoch_ms(ts::TIMESTAMP) AS c_ms, event_id FROM events
      |  WHERE event_type = 'purchase'
      |), ab AS (
      |  SELECT b.user_id, b.b_ms, b.event_id AS b_id,
      |         a.a_ms, a.event_id AS a_id,
      |         row_number() OVER (PARTITION BY b.user_id, b.event_id
      |                            ORDER BY a.a_ms DESC, a.event_id DESC) AS rn
      |  FROM b JOIN a ON a.user_id = b.user_id
      |   AND (a.a_ms < b.b_ms OR (a.a_ms = b.b_ms AND a.event_id < b.event_id))
      |), vb AS (
      |  SELECT user_id, b_ms, b_id, a_ms, a_id FROM ab
      |  WHERE rn = 1 AND b_ms - a_ms BETWEEN 1 AND ${Cep3Store.WithinMs}
      |), m AS (
      |  SELECT c.user_id, vb.a_id, vb.a_ms, vb.b_id, vb.b_ms,
      |         c.event_id AS c_id, c.c_ms,
      |         row_number() OVER (PARTITION BY c.user_id, c.event_id
      |                            ORDER BY vb.b_ms DESC, vb.b_id DESC) AS rn
      |  FROM c JOIN vb ON vb.user_id = c.user_id
      |   AND (vb.b_ms < c.c_ms OR (vb.b_ms = c.c_ms AND vb.b_id < c.event_id))
      |)
      |SELECT user_id, a_id AS a_event_id, a_ms AS a_ts_ms,
      |       b_id AS b_event_id, b_ms AS b_ts_ms,
      |       c_id AS c_event_id, c_ms AS c_ts_ms,
      |       b_ms - a_ms AS gap_ab_ms, c_ms - b_ms AS gap_bc_ms
      |FROM m WHERE rn = 1 AND c_ms - b_ms BETWEEN 1 AND ${Cep3Store.WithinMs}
      |ORDER BY user_id, c_ts_ms, c_event_id, b_event_id, a_event_id
      """.stripMargin.trim))

  val defs: Seq[QueryDef] =
    Seq(streamIngest, streamServe, streamServeNsw, streamServePq,
      streamServeAuto, streamCdcApply, streamTrending, streamLateAudit,
      streamHllDaily, streamHdrQuantiles, streamPatternMatch,
      streamPatternTimeout, streamPattern3Step)
}
