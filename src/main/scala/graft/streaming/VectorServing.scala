package graft.streaming

import graft.functions.{EmbeddingModel, Embeddings}
import graft.operators.{Ann, Knn}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's two entry points — ingest (`ingest_hotels.py:21-36`)
  * and search (`streamlit_app.py:45-73`) — as Structured Streaming
  * pipelines: continuous document ingestion with write-time index
  * assignment, and micro-batch KNN serving for a stream of queries.
  *
  * Both use `foreachBatch`: the per-batch frame is a plain batch
  * DataFrame, so the EXACT SAME operators the oracle-gated batch
  * queries run (`Embeddings.embedDataFrame`, `Ann.assignClusters`,
  * `Knn.batchSearch`) execute incrementally — no second
  * implementation to drift. This is the standard production shape for
  * sinks/ops streaming doesn't support natively (multi-stage top-k
  * rank, partitioned parquet append with custom layout).
  *
  * Scale: each micro-batch embeds only its own rows (the model rides
  * the existing broadcast inside `embedDataFrame`); index assignment
  * is a projection; the parquet append writes only the batch's
  * partitions. Serving never shuffles the corpus — `Knn.batchSearch`
  * broadcasts the (small) query batch.
  */
object VectorServing {

  /** Streaming ingest: text stream → batched embedding → nearest-
    * centroid `cluster_id` (write-time IVF step) → append to the
    * cluster-partitioned corpus at `path`. Searches through
    * `Ann.readIndexed(path)` + `IvfCatalog` then partition-prune
    * against everything ingested so far.
    */
  def ingestStream(docs: DataFrame, textCol: String, model: EmbeddingModel,
                   centroids: Array[Array[Float]], path: String,
                   checkpoint: String): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val embedded = Embeddings.embedDataFrame(batch, textCol, "vec", model)
        Ann.assignClusters(embedded, "vec", centroids)
          .write.mode("append").partitionBy("cluster_id").parquet(path)
      }
      .start()

  /** Streaming ingest with an incremental dedup gate — the continuous
    * form of [[graft.operators.Dedup.incrementalDedupFlags]]: each
    * micro-batch is checked against everything ALREADY STORED (exact
    * fingerprint semi-join + incoming-bands × stored-bands MinHash LSH
    * + Jaccard verify) and only novel documents append to the corpus.
    * Work per batch is |batch| × band-collisions — the stored corpus is
    * scanned but never self-paired, so ingest cost stays proportional
    * to the batch, not the corpus².
    *
    * Within-batch duplicates are NOT collapsed here (apply
    * `Dedup.exactDropIds` upstream if batches can self-duplicate).
    * `incrementalDedupFlags` materializes eagerly and drops its own
    * band/candidate caches before returning, so a long-running ingest
    * stream accumulates no retained cache blocks across batches.
    */
  def ingestDedupStream(docs: DataFrame, textCol: String, idCol: String,
                        corpusPath: String, checkpoint: String,
                        threshold: Double = 0.5,
                        trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val incoming = batch.select(col(idCol), col(textCol))
          // existence via the Hadoop FileSystem of the path, NOT
          // java.io.File — the corpus lives on hdfs://-s3a:// in
          // production, where a local-file check is silently always
          // false and would disable the dedup gate forever. And the
          // check is for DATA FILES, not the bare directory: a created-
          // but-empty corpus dir (mkdir racing the first batch, or a
          // wiped table leaving the root) would make `read.parquet`
          // throw "unable to infer schema" and wedge the stream forever.
          val hPath = new org.apache.hadoop.fs.Path(corpusPath)
          val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          // a file counts as data only if NO component between it and
          // the table root is a metadata dir — a leaf-name-only check
          // would accept `_temporary/.../part-*.parquet` from a crashed
          // write (or `_spark_metadata/0`) and then wedge the stream on
          // the schema-inference error the gate exists to prevent
          val qRoot = fs.makeQualified(hPath)
          val hasData = fs.exists(hPath) && {
            val it = fs.listFiles(hPath, true)
            var found = false
            while (!found && it.hasNext) {
              if (!graft.operators.Compact.isMetadata(qRoot, it.next().getPath))
                found = true
            }
            found
          }
          val existing =
            if (hasData)
              Some(spark.read.parquet(corpusPath).select(col(idCol), col(textCol)))
            else None
          val novel = existing match {
            case None => incoming // empty corpus: everything is novel
            case Some(ex) =>
              val combined = ex.withColumn("is_new", lit(false))
                .unionByName(incoming.withColumn("is_new", lit(true)))
              val dupIds = graft.operators.Dedup
                .incrementalDedupFlags(combined, textCol, idCol, col("is_new"),
                  threshold = threshold)
                .filter(col("is_exact_dup") || col("is_near_dup"))
                .select(col("id").as(idCol))
              incoming.join(dupIds, Seq(idCol), "left_anti")
          }
          novel.write.mode("append").parquet(corpusPath)
        }
      }
      .start()

  /** Micro-batch KNN serving: a stream of (queryId, queryVec) rows is
    * scored top-`k` against the static `corpus` per micro-batch with
    * the same broadcast-NLJ + per-query rank plan as the batch
    * `knn_batch` oracle query; results go to `sink` (a memory table,
    * kafka writer, …).
    */
  def serveKnn(queries: DataFrame, corpus: DataFrame,
               corpusVecCol: String, corpusIdCol: String,
               queryVecCol: String, queryIdCol: String, k: Int,
               checkpoint: String)(sink: DataFrame => Unit): StreamingQuery =
    queries.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          sink(Knn.batchSearch(corpus, batch, corpusVecCol, corpusIdCol,
            queryVecCol, queryIdCol, k)
            .select(col(queryIdCol), col("knn_rank"), col(corpusIdCol),
              round(col("distance_score"), 6).as("distance")))
        }
      }
      .start()

  /** Micro-batch GRAPH-index serving: each query batch is collected to
    * the driver (query batches are small by contract — user requests,
    * not data) and served through [[graft.operators.Nsw.batchSearch]]
    * over the graph store's shard exchange, opened once for the stream
    * (the first micro-batch runs the exchange): ONE job beams
    * candidates for the whole batch and re-ranks them exactly in the
    * same tasks. `recordCandidates` surfaces each batch's per-query
    * candidate ids to the caller (the late-bound oracle re-ranks
    * exactly these). Same sink contract as [[serveKnn]].
    *
    * `route` = Some((shardCentroids, nprobe)) turns on the per-query
    * shard ROUTER (r17 verdict #1b): each query in the micro-batch
    * beams only its nprobe centroid-nearest shards, so per-query
    * serving cost is the router's constant-in-corpus bound instead of
    * one beam per shard — at 100 TB nShards grows with the corpus and
    * the unrouted batch pass is linear in it. The centroid array is
    * index METADATA (nShards·dim doubles), computed once per store
    * like IVF's centroids, never per batch. None = full fan (kept for
    * recall-telemetry callers that need the unpruned candidate set).
    */
  def serveNswKnn(queries: DataFrame, graph: DataFrame, corpusIdCol: String,
                  queryVecCol: String, queryIdCol: String,
                  k: Int, p: graft.operators.Nsw.Params,
                  checkpoint: String,
                  route: Option[(Array[(Int, Array[Double])], Int)] = None)
                 (recordCandidates: Map[Int, Seq[Long]] => Unit)
                 (sink: DataFrame => Unit): StreamingQuery = {
    val opened = graft.operators.Nsw.openGraph(graph, p.nShards)
    queries.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val qs = batch.select(col(queryIdCol), col(queryVecCol)).collect()
            .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).toSeq
          val (res, cands) = route match {
            case Some((cents, nprobe)) =>
              val (r, c, _) = graft.operators.Nsw.routedBatchSearch(
                opened, corpusIdCol, qs, k, cents, nprobe, p)
              (r, c)
            case None =>
              graft.operators.Nsw.batchSearch(opened, corpusIdCol, qs, k, p)
          }
          recordCandidates(cands)
          sink(res.select(col(queryIdCol), col("knn_rank"), col(corpusIdCol),
            round(col("distance_score"), 6).as("distance")))
        }
      }
      .start()
  }

  /** Everything the four-way batch router needs to price AND execute a
    * serving batch: the probe indexes with their stats, the hybrid
    * probe-partitioned store, the routed graph, and the PQ codes. All
    * of it is per-store metadata + DataFrames, plus one held resource:
    * the graph store's opened shard exchange ([[openedGraph]]), whose
    * shuffle files live as long as this object does. Nothing is
    * per-batch.
    */
  final case class AutoServingIndexes(
      ivf: graft.plans.IvfCatalog.IvfIndex,
      lsh: graft.plans.LshCatalog.LshIndex,
      indexed: DataFrame,
      graph: DataFrame, corpus: DataFrame,
      routerCents: Array[(Int, Array[Double])], routerNprobe: Int,
      p: graft.operators.Nsw.Params,
      encoded: DataFrame, codebooks: Array[Array[Array[Float]]],
      dim: Int, corpusRows: Long, pqM: Int, pqShortlist: Int) {

    /** The graph store's shard exchange, opened on the first routed
      * request and held for every later one (lazy: an index that never
      * routes to the graph never opens it, and `graph` need not even be
      * a graph store then).
      */
    lazy val openedGraph: graft.operators.Nsw.OpenedGraph =
      graft.operators.Nsw.openGraph(graph, p.nShards)
  }

  /** Price a query batch with `IvfProbeRule.priceServing` (all four
    * families, unfiltered), then EXECUTE it on the winning index family
    * (r18 verdict #1) — the shared dispatch under [[serveAutoKnn]] and
    * the batch `ann_cost_serving_batch` gate (single-builder rule).
    * Returns the ranked results (query_id, knn_rank, vec_id-named idCol,
    * distance_score), the decision, its price (four byte totals), and
    * the per-query recorded candidate ids the late oracle re-ranks
    * (hnsw: the routed beam's candidates; pq: the per-query ADC
    * shortlists; ivf/lsh: empty — their candidate sets are probe-set
    * membership, which the oracle replays directly in SQL).
    *
    * Scale shape: the decision is O(B · nlist·dim) driver arithmetic on
    * index METADATA; execution is the chosen family's own bounded path
    * (probe-pruned scan / routed beams / one shared ADC pass). Per-query
    * legs union ≤ B small plans — query batches are user requests, not
    * data, by the serving contract. Every query must have the indexes'
    * dimension.
    */
  def dispatchServingBatch(qs: Seq[(Int, Array[Float])],
                           idx: AutoServingIndexes,
                           corpusVecCol: String, corpusIdCol: String, k: Int)
      : (DataFrame, String, graft.plans.IvfProbeRule.ServingPrice, Map[Int, Seq[Long]]) = {
    import graft.operators.{Nsw, Pq}
    import graft.plans.IvfProbeRule
    require(qs.forall(_._2.length == idx.dim),
      s"every query vector must have the indexes' dimension ${idx.dim}")
    val price = IvfProbeRule.priceServing(qs.map(_._2), idx.ivf, idx.lsh,
      IvfProbeRule.GraphBound(idx.p.nShards, idx.routerNprobe, idx.p.efSearch),
      Some(IvfProbeRule.PqFamily(idx.corpusRows, idx.pqM, idx.pqShortlist)))
    val chosen = price.chosen
    def rankPerQuery(legs: Seq[DataFrame]): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("distance_score").asc, col(corpusIdCol).asc)
      legs.reduce(_ unionByName _)
        .withColumn("knn_rank", row_number().over(w))
        .filter(col("knn_rank") <= k)
    }
    chosen match {
      case "hnsw" =>
        val (res, cands, _) = Nsw.routedBatchSearch(idx.openedGraph,
          corpusIdCol, qs, k, idx.routerCents, idx.routerNprobe, idx.p)
        (res, chosen, price, cands)
      case "pq" =>
        // the EXECUTED plan is the PRICED plan (r19 verdict #1): ONE
        // shared pass over the codes store for the whole batch (a
        // bounded ADC heap per query in each task), then ONE read of
        // the shortlisted vectors (In filter pushed into the scan),
        // re-ranked in the task — two Spark jobs, whatever B is. The
        // shortlists (≤ B × pqShortlist ids) are what the late oracle
        // re-ranks.
        val (res, shortlists) = Pq.batchSearch(idx.encoded, idx.corpus,
          corpusVecCol, corpusIdCol, qs, idx.codebooks, k, idx.pqShortlist)
        (res, chosen, price,
          shortlists.map { case (q, ids) => q -> ids.map(_.asInstanceOf[Long]).sorted })
      case fam =>
        val legs = qs.map { case (qid, qv) =>
          Knn.search(probeScan(idx.indexed, fam, qv, idx.ivf, idx.lsh),
            corpusVecCol, corpusIdCol, qv, k)
            .withColumn("query_id", lit(qid))
        }
        (rankPerQuery(legs), chosen, price, Map.empty)
    }
  }

  /** A hybrid (cluster_id, lsh_bucket)-partitioned store pruned to
    * `qv`'s probe set on one probe family: the hamming-≤radius buckets
    * for "lsh", the nprobe nearest lists for anything else (ivf).
    */
  def probeScan(indexed: DataFrame, family: String, qv: Array[Float],
                ivf: graft.plans.IvfCatalog.IvfIndex,
                lsh: graft.plans.LshCatalog.LshIndex): DataFrame =
    if (family == "lsh")
      indexed.filter(col("lsh_bucket").isin(Ann.probeBuckets(
        Ann.queryBucket(qv, lsh.planes), lsh.planes.length, lsh.radius): _*))
    else indexed.filter(col("cluster_id").isin(Ann.probeIds(qv, ivf.centroids, ivf.nprobe): _*))

  /** A price's byte totals as the literal columns est_ivf_b, est_lsh_b,
    * est_hnsw_b and (when the PQ family was priced) est_pq_b — the
    * decision record every cost-served output row carries.
    */
  def byteColumns(price: graft.plans.IvfProbeRule.ServingPrice): Seq[Column] = {
    val b = price.bytes
    Seq(lit(b.ivf).as("est_ivf_b"), lit(b.lsh).as("est_lsh_b"),
      lit(b.hnsw).as("est_hnsw_b")) ++ b.pq.map(lit(_).as("est_pq_b"))
  }

  /** Micro-batch COST-ROUTED serving: every micro-batch is priced by
    * the batch-aware four-way cost model and served on the family it
    * picks — small batches ride the graph router's constant bound,
    * large batches amortize one shared ADC scan, and the probe paths
    * win when their stats say so. `record` receives each batch's
    * (decision, per-query candidate ids) for the late-bound oracle.
    * Same sink contract as [[serveKnn]].
    */
  def serveAutoKnn(queries: DataFrame, idx: AutoServingIndexes,
                   corpusVecCol: String, corpusIdCol: String,
                   queryVecCol: String, queryIdCol: String, k: Int,
                   checkpoint: String)
                  (record: (Long, String, Map[Int, Seq[Long]]) => Unit)
                  (sink: DataFrame => Unit): StreamingQuery =
    queries.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val qs = batch.select(col(queryIdCol), col(queryVecCol)).collect()
            .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).toSeq
          val (res, chosen, price, cands) =
            dispatchServingBatch(qs, idx, corpusVecCol, corpusIdCol, k)
          record(batchId, chosen, cands)
          sink(res.select(Seq(col(queryIdCol),
            col("knn_rank").cast("long").as("knn_rank"),
            col(corpusIdCol), round(col("distance_score"), 6).as("distance"),
            lit(chosen).as("chosen_index"), lit(qs.length.toLong).as("batch_size")) ++
            byteColumns(price): _*))
        }
      }
      .start()

  /** Micro-batch PQ serving: each query batch is COLLECTED to the driver
    * (query batches are small by contract — they are user requests, not
    * data) so its per-query ADC tables can be computed there and served
    * by [[graft.operators.Pq.batchSearchRescore]]; the corpus side stays
    * fully distributed — one job per batch over the codes column, one
    * over the vectors of the per-query shortlists only.
    * Same sink contract as [[serveKnn]].
    */
  def servePqKnn(queries: DataFrame, encoded: DataFrame,
                 corpusVecCol: String, corpusIdCol: String,
                 queryVecCol: String, queryIdCol: String,
                 codebooks: Array[Array[Array[Float]]],
                 k: Int, shortlist: Int,
                 checkpoint: String)(sink: DataFrame => Unit): StreamingQuery =
    queries.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val qs = batch.select(col(queryIdCol), col(queryVecCol)).collect()
            .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).toSeq
          sink(graft.operators.Pq.batchSearchRescore(encoded, corpusVecCol,
              corpusIdCol, qs, codebooks, k, shortlist)
            .select(col(queryIdCol), col("knn_rank"), col(corpusIdCol),
              round(col("distance_score"), 6).as("distance")))
        }
      }
      .start()
}
