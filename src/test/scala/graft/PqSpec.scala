package graft

import graft.operators.{Ann, Knn, Pq}
import graft.queries.QueryVectors
import org.apache.spark.sql.functions._

/** Product-quantization tests: encode invariants, ADC-vs-true-distance
  * fidelity, rescore recall against exact KNN, and the no-shuffle plan
  * contract of the ADC scan.
  */
class PqSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf("sf0.001")).cache()
  private val q = QueryVectors.queryVec64
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

  test("batch PQ rescore reads vectors through an In-pruned parquet scan, no shuffle") {
    import graft.queries.VectorQueries
    // sf0.01, not the suite-cached sf0.001: CacheManager substitutes the
    // cached InMemoryRelation for a logically-equal fresh read, and the
    // point here is the PARQUET scan's PushedFilters
    val encP = Pq.encode(Tables.embeddings(spark, sf("sf0.01")), "embedding", cb)
    val ids = Pq.batchShortlist(encP, "vec_id", VectorQueries.batchQueryVecs, cb,
      shortlist = 20).values.flatMap(_.map(_._2)).toSeq.distinct
    // the filtered vector read batchSearch's rescore job runs
    val p = Pq.vectorRead(encP, "embedding", "vec_id", ids)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [In(vec_id"),
      s"shortlist ids must push into the rescore parquet scan:\n$p")
    assert(!p.contains("Exchange"), s"the vector read must not shuffle:\n$p")
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

  /** The PQ store as (vec_id, embedding, pq_codes) over the sf0.001
    * fixture, and a hand-built copy of it: an all-zero vector whose codes
    * are NULL (id -1), and two extra ids carrying the codes of query 0's
    * best fixture row, so three ids tie on ADC.
    */
  private lazy val fixtureStore =
    Pq.encode(emb, "embedding", cb).select("vec_id", "embedding", "pq_codes").cache()
  private lazy val handBuilt = {
    import graft.queries.VectorQueries
    val t = Pq.adcTable(VectorQueries.batchQueryVecs.head._2, cb)
    val rows = fixtureStore.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getSeq[Int](2)))
    val best = rows.minBy { case (id, _, cs) =>
      (cs.indices.map(mi => t(mi)(cs(mi))).reduceLeft(_ + _), id) }
    val extra = spark.createDataFrame(Seq(
        (-1L, Seq.fill(64)(0f), None),
        (900001L, best._2, Some(best._3)),
        (900002L, rows.head._2, Some(best._3))))
      .toDF("vec_id", "embedding", "pq_codes")
    (fixtureStore.unionByName(extra).cache(), best._1)
  }

  /** Shortlists and rescore rows of the two-job kernel against plain
    * Scala: the left-associated ADC sum over every row, ordered by (adc
    * ASC NULLS FIRST, id), and `Knn.search` over each recorded shortlist
    * with raw (unrounded) distances compared bit for bit.
    */
  private def checkKernel(store: org.apache.spark.sql.DataFrame,
                          idOrder: Ordering[Any], b: Int): Unit = {
    import graft.queries.VectorQueries
    val qs = VectorQueries.batchQueryVecs.take(b)
    val rows = store.select("vec_id", "pq_codes").collect()
      .map(r => (r.get(0), Option(r.getSeq[Int](1))))
    val sl = Pq.batchShortlist(store, "vec_id", qs, cb, shortlist = 20)
    val byAdcThenId: Ordering[(Option[Double], Any)] =
      Ordering.Tuple2(Ordering.Option(Ordering.Double.TotalOrdering), idOrder)
    qs.foreach { case (qid, v) =>
      val t = Pq.adcTable(v, cb)
      val want = rows.map { case (id, cs) =>
        (cs.map(c => c.indices.map(mi => t(mi)(c(mi))).reduceLeft(_ + _)), id)
      }.sorted(byAdcThenId).take(20).toSeq
      val got = sl(qid).map { case (adc, id) => (Option(adc).map(_.doubleValue), id) }
      assert(got == want, s"B=$b query $qid shortlist")
    }
    val (res, recorded) = Pq.batchSearch(store, store, "embedding", "vec_id",
      qs, cb, k = 3, shortlist = 20)
    assert(recorded == sl.map { case (q, l) => q -> l.map(_._2) })
    def bits(d: Any) = Option(d).map(x => java.lang.Double.doubleToRawLongBits(
      x.asInstanceOf[Double]))
    val got = res.collect().map(r => (r.getInt(0), r.getInt(1), r.get(2), bits(r.get(3)))).toSeq
    val want = qs.flatMap { case (qid, v) =>
      Knn.search(store.filter(col("vec_id").isin(recorded(qid): _*)),
          "embedding", "vec_id", v, k = 3)
        .select("vec_id", "distance_score").collect().zipWithIndex
        .map { case (r, i) => (qid, i + 1, r.get(0), bits(r.get(1))) }
    }
    assert(got == want, s"B=$b rescore rows")
  }

  test("batch kernel ≡ plain-Scala shortlist oracle and Knn.search rescore, B ∈ {1, 5}: fixture store") {
    Seq(1, 5).foreach(b =>
      checkKernel(fixtureStore, Ordering.Long.asInstanceOf[Ordering[Any]], b))
  }

  test("batch kernel ≡ oracles on hand-built rows: ADC ties by id, NULL codes first, zero vector ranks first with NULL distance") {
    import graft.queries.VectorQueries
    val (store, bestId) = handBuilt
    Seq(1, 5).foreach(b => checkKernel(store, Ordering.Long.asInstanceOf[Ordering[Any]], b))
    val qs = VectorQueries.batchQueryVecs
    val sl = Pq.batchShortlist(store, "vec_id", qs, cb, shortlist = 20)
    // the NULL-codes row heads every shortlist; for query 0 the ids that
    // tie on the best ADC follow it in id order
    assert(sl.values.forall(_.head == ((null, -1L))))
    val q0 = sl(qs.head._1)
    val bestAdc = q0.find(_._2 == bestId).get._1
    val tied = q0.filter(_._1 == bestAdc).map(_._2.asInstanceOf[Long])
    assert(Seq(bestId, 900001L, 900002L).forall(tied.contains) && tied == tied.sorted,
      s"ADC ties must break by id: $q0")
    val (res, _) = Pq.batchSearch(store, store, "embedding", "vec_id", qs, cb,
      k = 3, shortlist = 20)
    val firsts = res.filter(col("knn_rank") === 1).select("vec_id", "distance_score")
      .collect().map(r => (r.getLong(0), r.isNullAt(1)))
    assert(firsts.length == 5 && firsts.forall(_ == ((-1L, true))),
      s"the zero vector must rank first with a NULL distance: ${firsts.toSeq}")
  }

  test("batch kernel ≡ oracles over string ids (ties by the column's own ordering), B ∈ {1, 5}") {
    val store = handBuilt._1.withColumn("vec_id", col("vec_id").cast("string"))
    Seq(1, 5).foreach(b => checkKernel(store, Ordering.String.asInstanceOf[Ordering[Any]], b))
  }

  test("ADC tables reject a query whose length is not m·dsub, naming both lengths") {
    Seq(63, 65).foreach { n =>
      val e = intercept[IllegalArgumentException](Pq.adcTable(Array.fill(n)(0.1f), cb))
      assert(e.getMessage.contains(s"has $n components") && e.getMessage.contains("score 64"),
        e.getMessage)
      val ed = intercept[IllegalArgumentException](Pq.adcTableD(Array.fill(n)(0.1), cb))
      assert(ed.getMessage.contains(s"has $n components"), ed.getMessage)
    }
  }

  test("batch kernel fails a row whose pq_codes length is not m, or whose code is outside [0, ksub), naming its id") {
    import graft.queries.VectorQueries
    def run(bad: Seq[Int]) = intercept[org.apache.spark.SparkException] {
      val codes = spark.createDataFrame(Seq((1L, Seq.fill(8)(0)), (77L, bad)))
        .toDF("vec_id", "pq_codes")
      Pq.batchShortlist(codes, "vec_id", VectorQueries.batchQueryVecs.take(1), cb, 5)
    }.getMessage
    val short = run(Seq.fill(7)(0))
    assert(short.contains("vec_id = 77 has 7 codes; want m = 8"), short)
    val out = run(Seq(0, 0, 0, 16, 0, 0, 0, 0))
    assert(out.contains("vec_id = 77: code 16 in subspace 3 is outside [0, 16)"), out)
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
