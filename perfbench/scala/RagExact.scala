package perfbench

import scala.collection.mutable

import graft.operators.Knn
import org.apache.spark.sql.functions.col

/** `rag_exact`: the paper's system end to end. Set-up embeds a seeded
  * 9,500-document corpus, writes it as a store and opens it — twice, each
  * into a new store; the first also compiles the plans. Load is the
  * paper's request — query text → 384-d embedding in the calling JVM →
  * exact cosine top-k over the whole store → match score — sent by one
  * client in a closed loop. Between the two, the ingest path
  * ([[Ingest]]) takes a separate 1,500-document batch through the
  * quality gate, exact and MinHash dedup, embedding, semantic pruning and
  * a store write, twice; its throughput is `docs_per_s`.
  */
object RagExact {
  private final case class Answer(q: Array[Float], k: Int, rows: Seq[(Long, String, Double, Double)])

  def run(c: Ctx): Measured = {
    val tr = c.tr
    val gen = new Corpus(c.o.seed)
    val corpus = gen.batch(c.size.corpusDocs)
    val batch = gen.batch(c.size.ingestDocs)
    c.checksums ++= Seq(corpus.checksum, batch.checksum)
    val textOf = corpus.docs.map(d => d.id -> d.text).toMap

    val setupS = (0 until 2).map { s =>
      val path = c.path(s"corpus_$s")
      val t0 = System.nanoTime()
      Common.writeStore(c, corpus, "doc_id", path)
      c.spark.read.parquet(path)
      (System.nanoTime() - t0) / 1e9
    }
    val storePath = c.path("corpus_1")
    val store = c.spark.read.parquet(storePath)
    c.sampleHeap()

    tr.phase = "ingest"
    val source = c.path("source")
    Ingest.stage(c, batch, source)
    val passes = (0 until 2).map { s =>
      c.guard()
      val t0 = System.nanoTime()
      val p = Ingest.pass(c, batch, source, c.path(s"ingested_$s"))
      (p, (System.nanoTime() - t0) / 1e9)
    }
    c.sampleHeap()
    passes.zipWithIndex.foreach { case ((p, _), i) => c.op(Ingest.problems(c, s"ingest pass $i", p)) }

    tr.phase = "prep"
    val oracle = Common.oracleStore(c, store, "doc_id", corpus.docs.map(_.id).toSet)

    def search(q: Array[Float], k: Int): Answer = {
      val df = tr("knn.construct") {
        Knn.withMatchScore(Knn.search(store, "embedding", "doc_id", q, k), "doc_id")
          .select(col("doc_id"), col("text"), col("distance_score"), col("match_score"))
      }
      val rows = tr("knn.exec")(df.collect()).toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
      Answer(q, k, rows)
    }
    def problems(tag: String, a: Answer): Seq[String] = {
      // the oracle's top-k, presented in match-score order (score
      // descending, id ascending) like the engine's result shaping
      val want = oracle.topK(a.q, a.k).toSeq
        .map { case (id, d) => (id, d, Oracle.matchScore(d)) }
        .sortWith((x, y) => x._3 > y._3 || (x._3 == y._3 && x._1 < y._1))
      val got = a.rows.map(r => (r._1, r._3, r._4))
      val out = mutable.ArrayBuffer.empty[String]
      if (got != want)
        out += s"$tag: (id, distance, score) rows ${got.mkString(",")} != oracle ${want.mkString(",")}"
      a.rows.foreach { r =>
        if (!textOf.get(r._1).contains(r._2)) out += s"$tag: text of id ${r._1} differs from the input"
      }
      out.toSeq
    }

    val (texts, ks) = Common.queries(c, gen, 4096)
    def request(i: Int): Answer = {
      val j = i % texts.length
      val q = tr("embeddings.encode")(c.model.encode(texts(j)))
      search(q, ks(j))
    }

    c.warmup(c.size.exactWarmup)(i => problems(s"warm-up $i", request(texts.length - 1 - i)))
    val loop = c.timedLoop(c.size.exactRequests)(request)
    c.sampleHeap()

    c.tr.phase = "check"
    loop.all.zipWithIndex.foreach { case (a, i) => c.op(problems(s"request $i", a)) }
    // 1.0 whenever the checks above pass: exact search has no recall loss
    val recall = Stats.mean(loop.all.map { a =>
      Common.recall(a.rows.map(_._1), oracle.topK(a.q, a.k).map(_._1).toSeq)
    })

    Measured(setupS, loop.latencyMs, loop.n.toLong, loop.wallS, recall,
      docsPerS = batch.docs.length / Stats.median(passes.map(_._2)),
      dedupRecall = Stats.mean(passes.flatMap(p => Ingest.nearFound(p._1))),
      storeBytes = c.dirBytes(storePath) + c.dirBytes(passes.last._1.out),
      layers = Layers.report(c, loop))
  }
}
