package graft

import graft.operators.{Ann, Knn, Pq}
import graft.queries.Queries
import org.apache.spark.sql.functions._

/** Product-quantization tests: encode invariants, ADC-vs-true-distance
  * fidelity, rescore recall against exact KNN, and the no-shuffle plan
  * contract of the ADC scan.
  */
class PqSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf("sf0.001")).cache()
  private val q = Queries.queryVec64
  private lazy val cb = Pq.fitCodebooks(emb, "embedding", dim = 64, m = 8, ksub = 16)

  test("codebook shape: m × ksub × dsub; codes land in [0, ksub)") {
    assert(cb.length == 8 && cb.forall(_.length == 16) &&
      cb.forall(_.forall(_.length == 8)))
    val codes = Pq.encode(emb, "embedding", cb)
      .select(explode(col("pq_codes")).as("c")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(codes.nonEmpty && codes.forall(c => c >= 0 && c < 16))
  }

  test("encode is the per-subspace argmin (spot-check against driver compute)") {
    val sample = Pq.encode(emb, "embedding", cb)
      .select("embedding", "pq_codes").limit(20).collect()
    sample.foreach { r =>
      val v = r.getSeq[Float](0).toArray
      val got = r.getSeq[Int](1)
      (0 until 8).foreach { mi =>
        val sub = v.slice(mi * 8, mi * 8 + 8)
        val want = cb(mi).zipWithIndex.map { case (c, i) =>
          var acc = 0.0; var j = 0
          while (j < 8) { val d = sub(j).toDouble - c(j); acc += d * d; j += 1 }
          (math.sqrt(acc), i)
        }.min._2
        assert(got(mi) == want, s"subspace $mi: got ${got(mi)}, want $want")
      }
    }
  }

  test("ADC score equals the driver-side table sum for the assigned codes") {
    val t = Pq.adcTable(q, cb)
    val rows = Pq.encode(emb, "embedding", cb)
      .withColumn("adc", Pq.adcScore(col("pq_codes"), t))
      .select("pq_codes", "adc").limit(20).collect()
    rows.foreach { r =>
      val codes = r.getSeq[Int](0)
      val want = (0 until 8).map(mi => t(mi)(codes(mi))).reduceLeft(_ + _)
      assert(r.getDouble(1) == want)
    }
  }

  test("ADC approximates squared L2: rescore recall@10 vs exact ≥ 0.8, shortlist-50") {
    val exact = Knn.search(emb, "embedding", "vec_id", q, k = 10, Knn.L2)
    val enc = Pq.encode(emb, "embedding", cb)
    val approx = Pq.searchRescore(enc, "embedding", "vec_id", q, cb,
      k = 10, shortlist = 50)
    // rescore metric is cosine (serving default) — compare against the
    // exact cosine top-10, the contract the registered query gates
    val exactCos = Knn.search(emb, "embedding", "vec_id", q, k = 10)
    val a = approx.select("vec_id").collect().map(_.getLong(0)).toSet
    val e = exactCos.select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (a intersect e).size.toDouble / e.size
    assert(recall >= 0.8, s"rescore recall $recall < 0.8")
    // sanity: the L2-exact set exists and is the right size
    assert(exact.count() == 10)
  }

  test("batch PQ rescore ≡ per-query searchRescore for every query id") {
    import graft.queries.VectorQueries
    val enc = Pq.encode(emb, "embedding", cb).cache()
    val batch = Pq.batchSearchRescore(enc, "embedding", "vec_id",
        VectorQueries.batchQueryVecs, cb, k = 3, shortlist = 20)
      .select("query_id", "knn_rank", "vec_id").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val single = VectorQueries.batchQueryVecs.flatMap { case (qid, v) =>
      Pq.searchRescore(enc, "embedding", "vec_id", v, cb, k = 3, shortlist = 20)
        .orderBy(col("distance_score"), col("vec_id"))
        .collect().zipWithIndex
        .map { case (r, i) => (qid, i + 1, r.getAs[Long]("vec_id")) }
    }.toSet
    assert(batch == single, s"batch $batch != per-query $single")
    enc.unpersist()
  }

  test("batch PQ plan: shortlist ranks under WindowGroupLimit over the broadcast query table; " +
    "rescore scan is In-pruned (PushedFilters), vectors never full-scan") {
    import graft.queries.VectorQueries
    val enc = Pq.encode(emb, "embedding", cb)
    // the shortlist stage keeps the r19 shape: ONE codes pass × the
    // broadcast query-id table, rank under WindowGroupLimit
    val sl = Pq.batchShortlist(enc, "vec_id",
      VectorQueries.batchQueryVecs, cb, shortlist = 20)
    val ps = sl.queryExecution.executedPlan.toString
    assert(ps.contains("WindowGroupLimit"), s"shortlist rank must group-limit:\n$ps")
    assert(ps.contains("BroadcastNestedLoopJoin"), s"query table must broadcast:\n$ps")
    // r21 (closes r20's perf weak): the lazy batchSearchRescore now
    // collects the bounded shortlist and pushes its ids INTO the vector
    // scan — on a parquet-backed corpus the In filter reaches
    // PushedFilters (row-group pruning), and the rescore join is a
    // broadcast of the shortlist, never a shuffle of the vector column
    // sf0.01, not the suite-cached sf0.001: CacheManager substitutes the
    // cached InMemoryRelation for a logically-equal fresh read, and the
    // point here is the PARQUET scan's PushedFilters
    val encP = Pq.encode(Tables.embeddings(spark, sf("sf0.01")), "embedding", cb)
    val df = Pq.batchSearchRescore(encP, "embedding", "vec_id",
      VectorQueries.batchQueryVecs, cb, k = 3, shortlist = 20)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), s"final rank must group-limit:\n$p")
    assert(p.contains("PushedFilters: [In(vec_id"),
      s"shortlist ids must push into the rescore parquet scan:\n$p")
    assert(p.contains("BroadcastExchange"), s"shortlist must broadcast:\n$p")
    assert(!p.contains("Exchange hashpartitioning(vec_id"),
      s"the vector column must never ride a hash shuffle:\n$p")
  }

  test("the two batch execution shapes are result-identical (shape is a pure execution choice)") {
    import graft.queries.VectorQueries
    val enc = Pq.encode(emb, "embedding", cb)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "knn_rank", "vec_id").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val shared = rows(Pq.batchSearchRescore(enc, "embedding", "vec_id",
      VectorQueries.batchQueryVecs, cb, k = 3, shortlist = 20))
    val perQuery = rows(Pq.batchSearchRescorePerQuery(enc, "embedding",
      "vec_id", VectorQueries.batchQueryVecs, cb, k = 3, shortlist = 20))
    assert(shared == perQuery && shared.size == 15,
      s"shapes diverged:\nshared=$shared\nperquery=$perQuery")
    // and the per-query shape really is the zero-exchange TakeOrdered
    // plan, B times (each union branch scans + heaps, no rank sort of
    // the codes relation)
    val p = Pq.batchSearchRescorePerQuery(enc, "embedding", "vec_id",
      VectorQueries.batchQueryVecs, cb, k = 3, shortlist = 20)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"expected per-query heaps:\n$p")
  }

  test("ADC search plan: TakeOrderedAndProject over the scan, zero exchanges") {
    val enc = Pq.encode(emb, "embedding", cb)
    val p = Pq.search(enc, "vec_id", q, cb, k = 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"expected a top-k heap:\n$p")
    assert(!p.contains("Exchange"), s"ADC scan must not shuffle:\n$p")
  }

  test("parallel codebook fit ≡ a sequential loop over Ann.kmeansCentroids") {
    val sequential = (0 until 8).toArray.map { mi =>
      Ann.kmeansCentroids(emb.select(slice(col("embedding"), mi * 8 + 1, 8).as("sub")),
        "sub", 16, 42L + mi, 10)
    }
    assert(java.util.Arrays.deepEquals(
      cb.asInstanceOf[Array[AnyRef]], sequential.asInstanceOf[Array[AnyRef]]))
  }

  test("a failing codebook fit rethrows its own exception, not the pool's wrapper") {
    intercept[org.apache.spark.sql.AnalysisException](
      Pq.fitCodebooks(emb, "no_such_column", dim = 64, m = 8, ksub = 16))
  }
}
