package graft

import graft.operators.Knn
import graft.queries.QueryVectors
import org.apache.spark.sql.functions._

/** Operator tests for exact KNN (the reference flagship,
  * streamlit_app.py:55-73) and its batch/filtered/scored variants.
  */
class KnnSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf("sf0.001"))
  private val q = QueryVectors.queryVec64

  test("search returns exactly k rows, ascending by distance with id tiebreak") {
    val hits = Knn.search(emb, "embedding", "vec_id", q, k = 7).collect()
    assert(hits.length == 7)
    val ds = hits.map(_.getAs[Double]("distance_score")).toSeq
    assert(ds == ds.sorted)
  }

  test("k larger than corpus returns whole corpus; k=0 rejected") {
    val n = emb.count()
    assert(Knn.search(emb, "embedding", "vec_id", q, k = 100000).count() == n)
    intercept[IllegalArgumentException] { Knn.search(emb, "embedding", "vec_id", q, k = 0) }
  }

  test("int8-quantized corpus preserves KNN recall (the 4x-storage serving path)") {
    import graft.functions.VectorFunctions.{dequantizeInt8, quantScale, quantizeInt8}
    val quant = emb
      .withColumn("amax", quantScale(col("embedding")))
      .withColumn("qvec", dequantizeInt8(
        quantizeInt8(col("embedding"), col("amax")), col("amax")))
    val exact = Knn.search(emb, "embedding", "vec_id", q, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val approx = Knn.search(quant, "qvec", "vec_id", q, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (exact & approx).size / 10.0
    assert(recall >= 0.8, s"quantized recall@10 = $recall")
  }

  test("search result matches a brute-force driver-side computation") {
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expect = rows.map { case (id, v) => (cos(v, q), id) }.sorted.take(5).map(_._2).toSeq
    val got = Knn.search(emb, "embedding", "vec_id", q, k = 5)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == expect)
  }

  test("clampK pins k into the reference UI's [1, 10] slider domain") {
    assert(Knn.clampK(Int.MinValue) == Knn.ReferenceMinK)
    assert(Knn.clampK(-5) == 1)
    assert(Knn.clampK(0) == 1)
    assert(Knn.clampK(1) == 1)
    assert(Knn.clampK(7) == 7)
    assert(Knn.clampK(10) == 10)
    assert(Knn.clampK(11) == 10)
    assert(Knn.clampK(Int.MaxValue) == Knn.ReferenceMaxK)
  }

  test("referenceSearch clamps out-of-domain k instead of throwing (slider contract)") {
    // k=0 would be an IllegalArgumentException through search(); the
    // reference UI cannot produce it, so referenceSearch clamps to 1
    assert(Knn.referenceSearch(emb, "embedding", "vec_id", q, k = 0).count() == 1)
    // k=50 is silently pinned to the slider max of 10 rows
    assert(Knn.referenceSearch(emb, "embedding", "vec_id", q, k = 50).count() == 10)
  }

  test("referenceSearch(k) returns exactly search(clampK(k)) for k across the domain") {
    for (k <- Seq(-3, 0, 1, 5, 10, 11, 50)) {
      val got = Knn.referenceSearch(emb, "embedding", "vec_id", q, k)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      val want = Knn.search(emb, "embedding", "vec_id", q, Knn.clampK(k))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(got == want, s"k=$k: referenceSearch != search(clampK(k))")
      assert(got.length == Knn.clampK(k))
    }
  }

  test("NegDot metric ranks by descending inner product (MIPS ordering)") {
    val hits = Knn.search(emb, "embedding", "vec_id", q, k = 8, metric = Knn.NegDot)
      .collect()
    assert(hits.length == 8)
    // scores are negated dot products — ascending neg-dot ≡ descending dot
    val negDots = hits.map(_.getAs[Double]("distance_score")).toSeq
    assert(negDots == negDots.sorted)
    // the top MIPS hit must be the brute-force argmax of the dot product
    val best = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .maxBy { case (_, v) =>
        v.zip(q).map { case (a, b) => a.toDouble * b.toDouble }.sum
      }._1
    assert(hits.head.getAs[Long]("vec_id") == best)
  }

  test("filtered search honors the predicate and pushes it below the sort") {
    val hits = Knn.filteredSearch(emb, col("label") === 3, "embedding", "vec_id", q, k = 5)
    assert(hits.select("label").collect().forall(_.getInt(0) == 3))
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan, got:\n$plan")
  }

  test("exact KNN plans as TakeOrderedAndProject (no global sort, no shuffle)") {
    val plan = Knn.search(emb, "embedding", "vec_id", q, k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("Exchange"), s"unexpected shuffle in KNN plan:\n$plan")
  }

  test("batch search: k rows per query, ranks 1..k, broadcast side is queries") {
    import spark.implicits._
    val queries = Seq(
      (0, q.toSeq), (1, q.map(x => -x).toSeq))
      .toDF("query_id", "query_vec")
    val out = Knn.batchSearch(emb, queries, "embedding", "vec_id", "query_vec", "query_id", k = 4)
    val byQuery = out.groupBy("query_id").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byQuery == Map(0 -> 4L, 1 -> 4L))
    val ranks = out.filter(col("query_id") === 0).select("knn_rank")
      .collect().map(_.getInt(0)).toSeq.sorted
    assert(ranks == Seq(1, 2, 3, 4))
  }

  test("match score derivation matches the reference formula (streamlit_app.py:221-222)") {
    val scored = Knn.withMatchScore(
      Knn.search(emb, "embedding", "vec_id", q, k = 3), "vec_id").collect()
    scored.foreach { r =>
      val d = r.getAs[Double]("distance_score")
      val ms = r.getAs[Double]("match_score")
      assert(math.abs(ms - math.rint((1.0 - d) * 100.0 * 100.0) / 100.0) < 1e-9)
      assert(r.getAs[String]("display_score") == s"$ms%")
    }
    val scores = scored.map(_.getAs[Double]("match_score")).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("binary quantization: registered query's hamming agrees with driver-packed sign bits") {
    val rows = graft.queries.Queries.queriesMap("vec_bq_hamming_rescore")(
      spark, sf("sf0.001")).collect()
    assert(rows.length == 10)
    val q = graft.queries.QueryVectors.queryVec64
    def packed(v: Array[Float]): (Long, Long) = {
      def word(off: Int) =
        (0 until 32).map(j => if (v(off + j) > 0f) 1L << j else 0L).sum
      (word(0), word(32))
    }
    val (qlo, qhi) = packed(q)
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    rows.foreach { r =>
      val (blo, bhi) = packed(vecs(r.getAs[Long]("vec_id")))
      val want = java.lang.Long.bitCount(blo ^ qlo) + java.lang.Long.bitCount(bhi ^ qhi)
      assert(r.getAs[Long]("hamming") == want.toLong,
        s"vec ${r.getAs[Long]("vec_id")}: hamming ${r.getAs[Long]("hamming")} != $want")
    }
  }
}
