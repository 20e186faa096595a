package perfbench

import scala.collection.mutable

import graft.functions.Embeddings
import graft.operators.{Ann, Dedup, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col}

/** The ingest path `rag_exact` times besides its requests — the
  * LLM-data-pipeline batch job. One pass takes a batch of documents
  * through, in order: quality and language gate, exact dedup, MinHash
  * near-dup clustering, embedding, semantic pruning within ANN clusters,
  * and the write of the surviving store.
  */
object Ingest {
  val MinQuality = 0.55
  val MinJaccard = 0.5
  val SemanticMaxDistance = 0.1
  val SemanticClusters = 16

  /** Ids at each exit of one pass, and the store it wrote. */
  final case class Pass(batch: Batch, gated: Set[Long], exactDrop: Set[Long],
                        clusterOf: Map[Long, Long], pruned: Set[Long], out: String) {
    def afterExact: Set[Long] = gated -- exactDrop
    def nearDrop: Set[Long] = clusterOf.collect { case (id, cl) if id != cl => id }.toSet
    def written: Set[Long] = afterExact -- nearDrop -- pruned
  }

  /** Writes `batch` as a parquet source table of (doc_id, text). */
  def stage(c: Ctx, batch: Batch, path: String): Unit =
    c.spark.createDataFrame(batch.docs.toSeq.map(d => (d.id, d.text))).toDF("doc_id", "text")
      .write.parquet(path)

  /** One pass over the source table at `src` (holding `batch`), writing
    * the surviving store to `out`.
    */
  def pass(c: Ctx, batch: Batch, src: String, out: String): Pass = {
    val tr = c.tr
    val spark = c.spark
    def ids(df: DataFrame): Set[Long] = df.select("doc_id").collect().map(_.getLong(0)).toSet
    def idFrame(s: Set[Long]): DataFrame = spark.createDataFrame(s.toSeq.map(Tuple1(_))).toDF("doc_id")

    val docs = spark.read.parquet(src)
    val (gatedDf, gated) = tr("text.gate") {
      val g = docs.filter(TextAnalysis.langId(col("text")) === "en" &&
        TextAnalysis.qualityScore(col("text")) >= MinQuality).cache()
      (g, ids(g))
    }
    c.count("text.kept_ratio", gated.size.toDouble / batch.docs.length)
    val exactDrop = tr("dedup.exactDropIds")(ids(Dedup.exactDropIds(gatedDf, "text", "doc_id")))
    val afterExact = gatedDf.join(broadcast(idFrame(exactDrop)), Seq("doc_id"), "left_anti").cache()
    val clusterOf = tr("dedup.minhash") {
      val pairs = Dedup.minhashCandidatePairs(afterExact, "text", "doc_id").cache()
      val nCand = pairs.count()
      val verified = Dedup.jaccardOnPairs(afterExact, pairs, "text", "doc_id", shingleK = 3)
        .filter(col("jaccard") >= MinJaccard).select(col("id_a"), col("id_b")).cache()
      val nVer = verified.count()
      c.count("dedup.candidate_pairs", nCand.toDouble)
      c.count("dedup.verified_pairs", nVer.toDouble)
      c.count("dedup.verify_ratio", if (nCand == 0) 0.0 else nVer.toDouble / nCand)
      Dedup.duplicateClusters(verified).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val nearDrop = clusterOf.collect { case (id, cl) if id != cl => id }.toSet
    val survivors = afterExact.join(broadcast(idFrame(nearDrop)), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"))
    val emb = tr("embeddings.embedDataFrame") {
      val e = Embeddings.embedDataFrame(survivors, "text", "embedding", c.model).cache()
      c.count("embeddings.docs", e.count().toDouble)
      e
    }
    val assigned = tr("ann.assignClusters") {
      val cents = Ann.seededCentroids(emb, "embedding", "doc_id", SemanticClusters)
      val a = Ann.assignClusters(emb, "embedding", cents).cache()
      a.count()
      a
    }
    val (flags, pruned) = tr("dedup.semanticPruneFlags") {
      val f = Dedup.semanticPruneFlags(assigned, "embedding", "doc_id", "cluster_id",
        SemanticMaxDistance).cache()
      (f, ids(f.filter(col("pruned"))))
    }
    c.count("dedup.semantic_pairs", pruned.size.toDouble)
    tr("store.write") {
      flags.filter(!col("pruned")).select(col("doc_id"), col("text"), col("embedding"))
        .write.parquet(out)
    }
    c.count("store.bytes", c.dirBytes(out).toDouble)
    // release this pass's caches, and those the operators keep
    spark.catalog.clearCache()
    Pass(batch, gated, exactDrop, clusterOf, pruned, out)
  }

  /** The written store is 384-d unit vectors holding exactly the
    * survivors; every input id leaves through exactly one exit (gated
    * out, exact drop, near drop, semantic prune, written); the exact
    * drops are the oracle's; no planted exact copy of a gated source is
    * written.
    */
  def problems(c: Ctx, tag: String, p: Pass): Seq[String] = {
    val written = Common.collect(c.spark.read.parquet(p.out), "doc_id")
    val writtenIds = written.map(_._1).toSet
    val input = p.batch.docs.map(_.id).toSet
    val exits = Seq(input -- p.gated, p.exactDrop, p.nearDrop, p.pruned, writtenIds)
    val out = mutable.ArrayBuffer.empty[String]
    out ++= Common.vectorProblems(written, p.written).map(s => s"$tag: $s")
    if (exits.map(_.size).sum != input.size || exits.reduce(_ ++ _) != input)
      out += s"$tag: exits ${exits.map(_.size).mkString("+")} do not partition ${input.size} input ids"
    val gatedDocs = p.batch.docs.filter(d => p.gated(d.id)).toSeq
    if (Oracle.exactDropIds(gatedDocs) != p.exactDrop)
      out += s"$tag: exact drops differ from the oracle"
    p.batch.exactCopies.foreach { case (src, copy) =>
      if (p.gated(src) && writtenIds(copy)) out += s"$tag: planted exact copy $copy was written"
    }
    out.toSeq
  }

  /** Per planted near-copy pair that reached MinHash: 1 if both landed
    * in one duplicate cluster.
    */
  def nearFound(p: Pass): Seq[Double] =
    p.batch.nearCopies.filter { case (s, d) => p.afterExact(s) && p.afterExact(d) }
      .map { case (s, d) =>
        if (p.clusterOf.contains(s) && p.clusterOf.get(s) == p.clusterOf.get(d)) 1.0 else 0.0
      }
}
