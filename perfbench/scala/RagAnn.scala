package perfbench

import graft.operators.{Ann, Nsw, Pq}
import graft.plans.{IvfCatalog, LshCatalog}
import graft.streaming.VectorServing
import org.apache.spark.sql.functions.col

/** `rag_ann`: cost-routed ANN serving. The corpus is embedded and
  * written once (its throughput is `docs_per_s`); set-up builds the four
  * serving index families over it with the parameters of the
  * `ann_cost_serving_batch` gate (at the paper's 384 dimensions); one
  * client then sends serving batches through
  * `VectorServing.dispatchServingBatch` in a closed loop. One request in
  * five carries a batch of queries, the rest one query, so the router
  * takes both its single-query and its batch branch.
  */
object RagAnn {
  val K = 10
  val Params: Nsw.Params = Nsw.Params(nShards = 4, m = 8, efConstruction = 32, efSearch = 32)
  val RouterNprobe = 2
  val PqM = 8
  val PqKsub = 16
  val PqShortlist = 16

  private final case class Answer(qs: Seq[(Int, Array[Float])], chosen: String,
                                  cands: Map[Int, Seq[Long]],
                                  rows: Map[Int, Seq[(Int, Long, Double)]])

  def run(c: Ctx): Measured = {
    val tr = c.tr
    val gen = new Corpus(c.o.seed)
    val batch = gen.batch(c.size.corpusDocs)
    c.checksums += batch.checksum

    c.tr.phase = "ingest"
    val corpusPath = c.path("ann_corpus")
    val ingestS = Common.writeStore(c, batch, "vec_id", corpusPath)
    c.tr.phase = "prep"
    val corpus = c.spark.read.parquet(corpusPath).select(col("vec_id"), col("embedding"))
    val oracle = Common.oracleStore(c, corpus, "vec_id", batch.docs.map(_.id).toSet)

    c.tr.phase = "setup"
    def build(): (VectorServing.AutoServingIndexes, Seq[String]) = {
      val cents = tr("ann.seededCentroids")(Ann.seededCentroids(corpus, "embedding", "vec_id", nlist = 8))
      val planes = Ann.signPlanes(dim = 384, nBits = 8)
      val hybrid = c.path("hybrid")
      tr("ann.writeHybridIndexed")(Ann.writeHybridIndexed(corpus, "embedding", cents, planes, hybrid))
      val indexed = tr("ann.readIndexed")(Ann.readIndexed(c.spark, hybrid))
      val cells = tr("ann.cellCounts") {
        indexed.select(col("cluster_id").cast("int").as("c"), col("lsh_bucket").cast("long").as("b"))
          .groupBy(col("c"), col("b")).count().collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      }
      c.count("ann.hybrid_cells", cells.length.toDouble)
      val clusterRows = cells.groupBy(_._1).map { case (k, g) => k -> g.map(_._3).sum }
      val bucketRows = cells.groupBy(_._2).map { case (k, g) => k -> g.map(_._3).sum }
      val graphPath = c.path("graph")
      tr("nsw.build")(Nsw.writeGraph(Nsw.buildGraph(corpus, "embedding", "vec_id", Params), graphPath))
      val graph = tr("nsw.readGraph")(Nsw.readGraph(c.spark, graphPath))
      val router = tr("nsw.shardCentroids")(Nsw.shardCentroids(graph))
      // codebooks fit on a fixed one-in-five sample (1,900 vectors, about
      // the gate's 2,000-row fixture), as Pq recommends at scale; every
      // vector is then encoded
      val books = tr("pq.fitCodebooks") {
        Pq.fitCodebooks(corpus.filter(col("vec_id") % 5 === 0), "embedding", 384, PqM, PqKsub)
      }
      val pqPath = c.path("pq")
      tr("pq.writeEncoded")(Pq.writeEncoded(corpus, "embedding", "vec_id", books, pqPath))
      val encoded = tr("pq.readEncoded")(Pq.readEncoded(c.spark, pqPath))
      (VectorServing.AutoServingIndexes(
        IvfCatalog.IvfIndex(cents, 3, clusterRows), LshCatalog.LshIndex(planes, 2, bucketRows),
        indexed, graph, corpus, router, RouterNprobe, Params, encoded, books,
        dim = 384, corpusRows = clusterRows.values.sum, pqM = PqM, pqShortlist = PqShortlist),
        Seq(hybrid, graphPath, pqPath))
    }
    // one build per run: it takes about 40 s on 4 cores
    c.guard()
    val t0 = System.nanoTime()
    val (idx, stores) = build()
    val setupS = Seq((System.nanoTime() - t0) / 1e9)
    c.sampleHeap()

    def serve(qs: Seq[(Int, Array[Float])]): Answer = {
      val (res, chosen, _, cands) = tr("serving.dispatch") {
        VectorServing.dispatchServingBatch(qs, idx, "embedding", "vec_id", K)
      }
      val rows = tr("serving.exec") {
        res.select(col("query_id"), col("knn_rank"), col("vec_id"), col("distance_score")).collect()
      }.toSeq.map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      c.count(s"serving.chosen_$chosen", 1.0)
      chosen match {
        case "hnsw" =>
          qs.foreach { case (q, _) =>
            val n = cands.getOrElse(q, Nil).length.toDouble
            c.count("nsw.candidates_per_query", n)
            c.count("nsw.rerank_kept_ratio", if (n == 0) 0.0 else math.min(K, n) / n)
          }
        case "pq" =>
          qs.foreach { case (q, _) => c.count("pq.shortlist_per_query", cands.getOrElse(q, Nil).length.toDouble) }
        case _ =>
      }
      Answer(qs, chosen, cands,
        rows.groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(r => (r._2, r._3, r._4)) })
    }

    /** Ranks 1..m, m ≤ k and > 0, each distance the oracle's, (distance,
      * id) order; for the candidate-recording families (graph, PQ) also
      * the exact top-k over exactly the recorded candidates.
      */
    def problems(tag: String, a: Answer): Seq[String] = a.qs.flatMap { case (q, v) =>
      val got = a.rows.getOrElse(q, Nil)
      val qtag = s"$tag query $q (${a.chosen})"
      if (got.isEmpty) Seq(s"$qtag: no results")
      else if (got.map(_._1) != (1 to got.length) || got.length > K) Seq(s"$qtag: ranks ${got.map(_._1)}")
      else {
        val (k, among) = a.cands.get(q) match {
          case Some(ids) => (K, ids)
          case None      => (got.length, got.map(_._2))
        }
        Common.rankProblems(qtag, got.map(r => (r._2, r._3)), v, k, oracle, among)
      }
    }

    val (texts, _) = Common.queries(c, gen, 4096)
    val phaseOf = new scala.util.Random(c.o.seed * 31L + 5L)
    val batchSlot = Array.fill(4096)(phaseOf.nextInt(5))
    def request(i: Int, batched: Boolean): Answer = {
      val nq = if (batched) c.size.annBatch else 1
      serve((0 until nq).map { j =>
        j -> tr("embeddings.encode")(c.model.encode(texts((i * 37 + j) % texts.length)))
      })
    }

    // warm-up: one block of the loop's mix, so both router branches
    // compile before timing starts
    c.warmup(5)(i => problems(s"warm-up $i", request(100000 + i, batched = i == 4)))
    // whole blocks of 5, so every run measures the same 1-in-5 batch mix
    val loop = c.timedLoop(c.size.annRequests, block = 5) { i =>
      request(i, batchSlot((i / 5) % batchSlot.length) == i % 5)
    }
    c.sampleHeap()

    c.tr.phase = "check"
    loop.all.zipWithIndex.foreach { case (a, i) => c.op(problems(s"request $i", a)) }
    val recall = Stats.mean(loop.all.flatMap { a =>
      a.qs.map { case (q, v) =>
        Common.recall(a.rows.getOrElse(q, Nil).map(_._2), oracle.topK(v, K).map(_._1).toSeq)
      }
    })
    val queries = loop.timed.map(_._2.qs.length.toLong).sum

    // blocking recall: planted near-copy pairs the hybrid index stores
    // in one (cluster, bucket) cell, so a cell-blocked dedup pass or a
    // single-cell probe would find the copy
    val cellOf = idx.indexed.select(col("vec_id"), col("cluster_id").cast("long"),
        col("lsh_bucket").cast("long")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val together = batch.nearCopies.map { case (src, copy) =>
      if (cellOf(src) == cellOf(copy)) 1.0 else 0.0
    }

    Measured(setupS, loop.latencyMs, queries, loop.wallS, recall,
      docsPerS = batch.docs.length / ingestS,
      dedupRecall = Stats.mean(together),
      storeBytes = (corpusPath +: stores).map(c.dirBytes).sum,
      layers = Layers.report(c, loop))
  }
}
