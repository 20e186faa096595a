package graft

import graft.functions.Md5PortableEmbedder
import graft.operators.{Ann, Knn}
import graft.streaming.VectorServing
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming vector pipeline tests: the reference's ingest and search
  * entry points run as Structured Streaming micro-batches and must
  * produce byte-identical results to the batch operators they wrap.
  */
case class IngestDoc(doc_id: Long, text: String)
case class QueryVec(query_id: Int, query_vec: Seq[Float])

class VectorServingSpec extends SparkSpec {
  import spark.implicits._

  private val model = Md5PortableEmbedder(dim = 16)

  test("streaming ingest builds the same cluster-partitioned corpus as the batch path") {
    val docs = Seq(
      IngestDoc(1L, "alpha beta gamma"), IngestDoc(2L, "delta epsilon zeta"),
      IngestDoc(3L, "eta theta iota"), IngestDoc(4L, "kappa lambda mu"),
      IngestDoc(5L, "alpha beta delta"), IngestDoc(6L, "nu xi omicron"))
    val cents = Array("alpha beta", "delta zeta", "theta").map(model.encode)
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_ingest_cp").toString
    try {
      val input = MemoryStream[IngestDoc](spark)
      input.addData(docs)
      // AvailableNow: drain everything queued, then stop — the restart-
      // safe batch-boundary trigger a scheduled ingest job would use
      val q = VectorServing.ingestStream(input.toDF(), "text", model, cents,
        s"$dir/corpus", cp)
      q.awaitTermination()

      val stored = Ann.readIndexed(spark, s"$dir/corpus")
      // batch reference: same operators, same data, one shot
      val expect = Ann.assignClusters(
        graft.functions.Embeddings.embedDataFrame(docs.toDF(), "text", "vec", model),
        "vec", cents)
      val key = (df: org.apache.spark.sql.DataFrame) =>
        df.select(col("doc_id"), col("vec"), col("cluster_id").cast("int"))
          .collect().map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2))).toSet
      assert(key(stored) == key(expect))
      // the write really is cluster-partitioned (directory layout = index)
      val parts = new java.io.File(s"$dir/corpus").listFiles()
        .filter(_.getName.startsWith("cluster_id=")).map(_.getName).toSet
      assert(parts.nonEmpty && parts.subsetOf(
        (0 until cents.length).map(i => s"cluster_id=$i").toSet))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
      new Directory(new java.io.File(cp)).deleteRecursively()
    }
  }

  test("streaming ingest dedup gate: later batches drop exact and near dups of stored docs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_ingest").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_dedup_ingest_cp").toString
    try {
      val input = MemoryStream[IngestDoc](spark)
      val q = VectorServing.ingestDedupStream(input.toDF(), "text", "doc_id",
        s"$dir/corpus", cp, threshold = 0.5)
      try {
        // batch 1 → empty corpus, both stored
        input.addData(Seq(IngestDoc(1L, base),
          IngestDoc(2L, "totally different words here entirely one two three")))
        q.processAllAvailable()
        // batch 2 → exact dup of 1, near dup of 1, and a novel doc
        input.addData(Seq(IngestDoc(10L, base), IngestDoc(15L, base + " lambda"),
          IngestDoc(20L, "nothing shared with any stored corpus document at all")))
        q.processAllAvailable()
      } finally q.stop()
      val stored = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(stored == Set(1L, 2L, 20L),
        s"expected dups 10 (exact) and 15 (near) gated out, got $stored")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
      new Directory(new java.io.File(cp)).deleteRecursively()
    }
  }

  test("dedup gate ignores metadata trees: _temporary leftovers are not data") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_meta").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_dedup_meta_cp").toString
    try {
      // simulate a crashed first write: the corpus dir exists and holds a
      // parquet-NAMED file, but only under a hidden staging tree. A
      // leaf-name check would see "data", read.parquet would then find
      // zero usable files and throw — wedging the stream. The component
      // walk must classify the corpus as empty and ingest everything.
      // (.staging, not _temporary/0/task_*: that exact layout is
      // FileOutputCommitter's own staging area, and the first real write
      // would PROMOTE the fake file into the table root on job commit)
      val tmpTree = new java.io.File(s"$dir/corpus/.staging/0/task_0")
      assert(tmpTree.mkdirs())
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmpTree.getPath, "part-00000.parquet"),
        Array[Byte](1, 2, 3))
      val input = MemoryStream[IngestDoc](spark)
      val q = VectorServing.ingestDedupStream(input.toDF(), "text", "doc_id",
        s"$dir/corpus", cp, threshold = 0.5)
      try {
        input.addData(Seq(IngestDoc(1L, "first real document after the crash"),
          IngestDoc(2L, "second unrelated document with other words")))
        q.processAllAvailable()
      } finally q.stop()
      val stored = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(stored == Set(1L, 2L), s"got $stored")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
      new Directory(new java.io.File(cp)).deleteRecursively()
    }
  }

  test("registered stream_ingest_dedup run equals the batch incremental gate") {
    val dir = sf("sf0.001")
    // the registered query runs the whole AvailableNow two-batch replay
    // (memoized per JVM) and returns the final stored corpus ids
    val out = graft.queries.Queries.queriesMap("stream_ingest_dedup")(spark, dir)
      .collect().map(_.getLong(0)).toSeq
    // batch reference: existing docs (≢ 0 mod 5) all stored; incoming
    // kept iff the one-shot incremental gate flags it neither exact nor
    // near dup — if the stream had collapsed to a single batch, nothing
    // would be gated and this equality would fail
    val d = Tables.documents(spark, dir)
    val gated = graft.operators.Dedup.incrementalDedupFlags(
        d, "text", "doc_id", pmod(col("doc_id"), lit(5)) === 0, threshold = 0.5)
      .filter(col("is_exact_dup") || col("is_near_dup"))
      .select("id").collect().map(_.getLong(0)).toSet
    val expect = d.select("doc_id").collect().map(_.getLong(0))
      .filter(id => id % 5 != 0 || !gated(id)).sorted.toSeq
    assert(out == expect)
    assert(gated.nonEmpty, "fixture must exercise the gate (near-dups across the split)")
  }

  test("micro-batch KNN serving equals the batch batchSearch on the same queries") {
    val corpus = Tables.embeddings(spark, sf("sf0.001"))
    val qvecs = (0 until 3).map(i =>
      QueryVec(i, graft.functions.HashingEmbedder(dim = 64, seed = 7)
        .encode(s"serving query $i").toSeq))
    val cp = java.nio.file.Files.createTempDirectory("graft_serve_cp").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long, Double)]
    try {
      val input = MemoryStream[QueryVec](spark)
      val q = VectorServing.serveKnn(input.toDF(), corpus,
        "embedding", "vec_id", "query_vec", "query_id", k = 3, cp) { out =>
        got ++= out.collect().map(r =>
          (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      }
      try {
        input.addData(qvecs.take(2)); q.processAllAvailable()
        input.addData(qvecs.drop(2)); q.processAllAvailable()
      } finally q.stop()

      val expect = Knn.batchSearch(corpus, qvecs.toDF(),
          "embedding", "vec_id", "query_vec", "query_id", k = 3)
        .select(col("query_id"), col("knn_rank"), col("vec_id"),
          round(col("distance_score"), 6).as("distance"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got.toSet == expect, s"streamed=${got.toSet}\nbatch=$expect")
      assert(expect.size == 9) // 3 queries × k=3
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(cp)).deleteRecursively()
    }
  }

  test("pq batch dispatch executes the priced plan: ONE codes scan per batch, jobs constant in B (r19 verdict #1)") {
    import graft.operators.{Nsw, Pq}
    val corpus = Tables.embeddings(spark, sf("sf0.001"))
    val n = corpus.count()
    val cents = Ann.seededCentroids(corpus, "embedding", "vec_id", nlist = 4)
    val planes = Ann.signPlanes(dim = 64, nBits = 4)
    val books = Pq.fitCodebooks(corpus, "embedding", 64, 8, 16)
    val tmp = java.nio.file.Files.createTempDirectory("graft_pqdisp").toString
    try {
      Pq.writeEncoded(corpus, "embedding", "vec_id", books, s"$tmp/codes")
      val encoded = Pq.readEncoded(spark, s"$tmp/codes")
      // synthetic probe stats far above the corpus force the batch
      // router to pick pq at EVERY batch size (the regime under test)
      val idx = VectorServing.AutoServingIndexes(
        graft.plans.IvfCatalog.IvfIndex(cents, 2,
          cents.indices.map(_ -> 1000000L).toMap),
        graft.plans.LshCatalog.LshIndex(planes, 1,
          (0L until 16L).map(_ -> 1000000L).toMap),
        corpus, corpus, corpus, // probe/graph stores unused on the pq path
        Array.empty, 2, Nsw.Params(),
        encoded, books, dim = 64, corpusRows = n, pqM = 8, pqShortlist = 8)
      def queriesOf(b: Int) = (0 until b).map(i =>
        i -> graft.functions.HashingEmbedder(dim = 64, seed = 7)
          .encode(s"pq dispatch probe $i"))

      // job pins: the whole batch is ONE pass over the codes store (the
      // amortized N·m pass the cost model priced) plus ONE read of the
      // shortlisted vectors — two jobs of one stage each (no shuffle-map
      // stage), whatever the batch size
      val counter = new JobCounter(spark)
      def runDispatch(b: Int): ((Int, Int), String, Map[Int, Seq[Long]],
          Array[(Int, Int, Long, Double)]) = {
        counter.reset()
        val (res, chosen, _, cands) = VectorServing.dispatchServingBatch(
          queriesOf(b), idx, "embedding", "vec_id", k = 3)
        val rows = res.select(col("query_id"), col("knn_rank"),
            col("vec_id"), round(col("distance_score"), 6)).collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        (counter.settle(), chosen, cands, rows)
      }
      try {
        val ((j1, s1), c1, _, _) = runDispatch(1)
        val ((j5, s5), c5, cands5, rows5) = runDispatch(5)
        assert(c1 == "pq" && c5 == "pq", s"router must pick pq: $c1/$c5")
        assert(j5 == j1,
          s"pq dispatch job count must be constant in batch size: B=1 ran $j1 jobs, B=5 ran $j5")
        assert((j1, s1) == ((2, 2)) && (j5, s5) == ((2, 2)),
          s"pq dispatch + collect must run 2 jobs and 2 stages: B=1 ran $j1/$s1, B=5 ran $j5/$s5")
        // result parity: exact cosine re-rank of THIS run's recorded
        // shortlists (the late-oracle contract) reproduces the output
        val expect = queriesOf(5).flatMap { case (qid, qv) =>
          Knn.search(corpus.filter(col("vec_id").isin(cands5(qid): _*)),
              "embedding", "vec_id", qv, k = 3)
            .select(col("vec_id"), round(col("distance_score"), 6))
            .collect().zipWithIndex
            .map { case (r, i) => (qid, i + 1, r.getLong(0), r.getDouble(1)) }
        }.toSet
        assert(rows5.toSet == expect, s"got ${rows5.toSet}\nexpect $expect")
        assert(cands5.values.forall(_.size == 8), "B×shortlist recording")
      } finally counter.close()
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("routed graph dispatch on a held exchange: one Spark job per single-query request, no shuffle-map stage") {
    import graft.operators.Nsw
    val corpus = Tables.embeddings(spark, sf("sf0.001"))
    val p = Nsw.Params()
    val tmp = java.nio.file.Files.createTempDirectory("graft_nswdisp").toString
    try {
      Nsw.writeGraph(Nsw.buildGraph(corpus, "embedding", "vec_id", p), s"$tmp/graph")
      val graph = Nsw.readGraph(spark, s"$tmp/graph")
      val cents = Ann.seededCentroids(corpus, "embedding", "vec_id", nlist = 4)
      val planes = Ann.signPlanes(dim = 64, nBits = 4)
      // synthetic stats: probe lists and the PQ scan priced far above one
      // routed beam, so the router sends every request to the graph
      val idx = VectorServing.AutoServingIndexes(
        graft.plans.IvfCatalog.IvfIndex(cents, 2,
          cents.indices.map(_ -> 1000000L).toMap),
        graft.plans.LshCatalog.LshIndex(planes, 1,
          (0L until 16L).map(_ -> 1000000L).toMap),
        corpus, graph, corpus, Nsw.shardCentroids(graph), 2, p,
        corpus, Array.empty, dim = 64, corpusRows = 100000000L, pqM = 8,
        pqShortlist = 8)
      def query(i: Int) = Seq(0 -> graft.functions.HashingEmbedder(dim = 64, seed = 7)
        .encode(s"routed dispatch probe $i"))
      val counter = new JobCounter(spark)
      try {
        // the first routed request opens the exchange (its map stage runs)
        val (_, first, _, _) = VectorServing.dispatchServingBatch(
          query(0), idx, "embedding", "vec_id", k = 3)
        assert(first == "hnsw", s"router must pick hnsw, got $first")
        (1 to 3).foreach { i =>
          counter.reset()
          val (res, chosen, _, cands) = VectorServing.dispatchServingBatch(
            query(i), idx, "embedding", "vec_id", k = 3)
          val rows = res.select(col("query_id"), col("knn_rank"), col("vec_id"),
            col("distance_score")).collect()
          val (jobs, stages) = counter.settle()
          assert(chosen == "hnsw")
          assert(rows.length == 3 && cands(0).nonEmpty)
          // one job whose only stage is the result stage: the exchange's
          // map stage is skipped
          assert(jobs == 1 && stages == 1,
            s"request $i ran $jobs jobs and $stages stages; want 1 and 1")
        }
      } finally counter.close()
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }
}
