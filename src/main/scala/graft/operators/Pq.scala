package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import scala.jdk.CollectionConverters._

/** Product quantization (PQ) — the memory-bound ANN serving path the
  * reference's engine family offers alongside IVF (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011; reference
  * behavior anchor: the vector index options of
  * `/root/reference/streamlit_app.py:55-73`'s backing store, re-expressed
  * Spark-first like `Ann`/`VectorFunctions.quantizeInt8`).
  *
  * The vector column (D float32s = 4·D bytes) is split into `m`
  * subspaces; each subspace gets a `ksub`-centroid codebook (Spark ML
  * KMeans, fixed seed); a vector is stored as `m` small ints (one code
  * per subspace) — a 4·D/m-fold compression (64-d float32 → 8 bytes at
  * m=8). Query scoring is ADC (asymmetric distance computation): the
  * query precomputes an m×ksub table of squared subspace distances on
  * the driver, and each row's approximate squared L2 distance is m
  * table lookups + (m−1) adds, no vector arithmetic, no shuffle. One
  * query ([[search]]) is a codegen'd projection over the codes column
  * under TakeOrderedAndProject; a query batch ([[batchSearch]]) is one
  * pass over the codes in which each task keeps a bounded heap per
  * query, then one In-pruned read of the shortlisted vectors re-ranked
  * in the task. At 100 TB the codes relation is ~1/32 the corpus bytes
  * and the scan is memory-bandwidth-bound exactly like the int8 path.
  *
  * Determinism/parity contract (mirrored by the late-bound DuckDB
  * oracles in VectorQueries):
  *   - code assignment = argmin of the SAME sqrt'd [[l2Distance]] the
  *     IVF path compares, ties → lower code id (struct-min, identical
  *     to [[Ann.nearestCentroid]]);
  *   - the ADC table is computed ONCE driver-side in Double and embedded
  *     as exact decimal literals on both engines;
  *   - the per-row ADC sum is a FIXED left-associated add chain (both
  *     engines, and the batch kernel's task loop, evaluate
  *     ((d0+d1)+d2)+… in subspace order);
  *   - top-k SELECTION runs on the full-precision (adc, id) key;
  *     presentation rounds to 6 decimals and re-sorts on the rounded
  *     alias (the sf10 decade-gate rule).
  *
  * Codebook fitting at cluster scale runs on a driver-chosen SAMPLE of
  * the corpus (pass the sampled DataFrame to [[fitCodebooks]]) — the
  * fit cost is independent of corpus size; encode is a projection.
  */
object Pq {

  /** Per-subspace KMeans codebooks: result is m × ksub × (D/m) floats.
    * Fit runs one Spark ML KMeans per subspace over the sliced vectors
    * (fixed seed ⇒ deterministic for a given input DataFrame).
    *
    * The m fits are independent, and each is a chain of small Spark
    * jobs that leaves most cores idle, so they run concurrently on a
    * pool of m threads created for this call (its threads inherit the
    * caller's Spark local properties: job group, scheduler pool). Each
    * fit sees the same input and seed as a sequential loop would, so
    * the codebooks are the same; they come back in subspace order. The
    * first failing fit, in subspace order, is rethrown.
    */
  def fitCodebooks(corpus: DataFrame, vecCol: String, dim: Int, m: Int,
                   ksub: Int, seed: Long = 42L,
                   maxIter: Int = 10): Array[Array[Array[Float]]] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val dsub = dim / m
    val pool = java.util.concurrent.Executors.newFixedThreadPool(m)
    try {
      val fits = (0 until m).map { mi =>
        pool.submit(new java.util.concurrent.Callable[Array[Array[Float]]] {
          def call(): Array[Array[Float]] = {
            val sub = corpus.select(
              slice(col(vecCol), mi * dsub + 1, dsub).as("sub"))
            Ann.kmeansCentroids(sub, "sub", ksub, seed + mi, maxIter)
          }
        })
      }
      fits.map { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }.toArray
    } finally pool.shutdown()
  }

  /** Corpus + `pq_codes` (array<int>, one nearest-codebook-entry id per
    * subspace). A pure projection — the original vector column is kept
    * so a rescore stage can re-read it.
    */
  def encode(df: DataFrame, vecCol: String,
             codebooks: Array[Array[Array[Float]]]): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val codes = array((0 until m).map { mi =>
      Ann.nearestCentroid(slice(col(vecCol), mi * dsub + 1, dsub), codebooks(mi))
    }: _*)
    df.withColumn("pq_codes", codes)
  }

  /** The query's ADC table: adcTable(m)(c) = Σᵢ (q[m·dsub+i] −
    * codebook[m](c)(i))² — squared subspace L2, sequential Double
    * accumulation (same order as [[l2Distance]] without the sqrt).
    * The query must have exactly m·dsub components.
    */
  def adcTable(queryVec: Array[Float],
               codebooks: Array[Array[Array[Float]]]): Array[Array[Double]] =
    adcTableD(queryVec.map(_.toDouble), codebooks)

  /** ADC table for a DOUBLE query vector — the IVF-PQ residual path,
    * where the scored quantity (query − coarse centroid) is already a
    * double and must NOT round-trip through float32 (both engines
    * compute the residual in double; a float round-trip would introduce
    * a rounding step the SQL mirror doesn't perform).
    */
  def adcTableD(queryVec: Array[Double],
                codebooks: Array[Array[Array[Float]]]): Array[Array[Double]] = {
    val dsub = codebooks(0)(0).length
    require(queryVec.length == codebooks.length * dsub,
      s"query vector has ${queryVec.length} components; the codebooks " +
        s"score ${codebooks.length * dsub} (m = ${codebooks.length} × dsub = $dsub)")
    codebooks.zipWithIndex.map { case (cb, mi) =>
      cb.map { c =>
        var acc = 0.0; var i = 0
        while (i < dsub) {
          val d = queryVec(mi * dsub + i) - c(i); acc += d * d; i += 1
        }
        acc
      }
    }
  }

  /** Approximate squared L2 of a row vs the query: m literal-array
    * lookups summed as a fixed left-associated chain (codegen'd; IEEE
    * order identical in the SQL mirror).
    */
  def adcScore(codesCol: Column, table: Array[Array[Double]]): Column =
    table.zipWithIndex.map { case (dists, mi) =>
      element_at(typedLit(dists.toSeq), element_at(codesCol, mi + 1) + 1)
    }.reduceLeft(_ + _)

  /** Top-k by ADC: full-precision (adc, id) selection via
    * TakeOrderedAndProject — no shuffle, no vector column read.
    */
  def search(encoded: DataFrame, idCol: String, queryVec: Array[Float],
             codebooks: Array[Array[Array[Float]]], k: Int): DataFrame = {
    val t = adcTable(queryVec, codebooks)
    encoded.withColumn("adc_dist", adcScore(col("pq_codes"), t))
      .orderBy(col("adc_dist"), col(idCol))
      .limit(k)
  }

  /** PQ shortlist → exact rescore: top-`shortlist` rows by ADC (codes
    * only), then exact cosine over the kept vector column for the final
    * top-k — the standard two-stage serving shape (compressed scan
    * bounds the exact work to `shortlist` rows).
    */
  def searchRescore(encoded: DataFrame, vecCol: String, idCol: String,
                    queryVec: Array[Float],
                    codebooks: Array[Array[Array[Float]]], k: Int,
                    shortlist: Int): DataFrame = {
    val cand = search(encoded, idCol, queryVec, codebooks, shortlist)
    graft.operators.Knn.search(cand, vecCol, idCol, queryVec, k)
  }

  /** Write-time encode: persist ONLY (id, pq_codes) — the serving-scan
    * relation. At 4·D/m-fold compression the stored bytes are the whole
    * point: an ADC top-k over this store reads ~1/30 the bytes of the
    * vector store (ScanSavings measures it; rescore candidates fetch
    * their vectors from the primary store by id).
    */
  def writeEncoded(corpus: DataFrame, vecCol: String, idCol: String,
                   codebooks: Array[Array[Array[Float]]], path: String): Unit =
    encode(corpus, vecCol, codebooks)
      .select(col(idCol), col("pq_codes"))
      .write.mode("overwrite").parquet(path)

  def readEncoded(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Batch multi-query PQ serving in TWO Spark jobs — the micro-batch
    * serving kernel ([[graft.streaming.VectorServing.dispatchServingBatch]]'s
    * pq branch, [[batchSearchRescore]], the filtered batch gate):
    *   1. [[batchShortlist]]: one pass over `codes` keeps every query's
    *      `shortlist` best ADC rows;
    *   2. one pass over `vectors` filtered to the shortlisted ids (the In
    *      filter pushes into a parquet scan: row-group pruning, ~B ×
    *      shortlist × dim·4 bytes read), scoring each shortlisted row
    *      against the queries that shortlisted it with the SQL re-rank's
    *      own cosine ([[Knn.taskCosine]]), in the task.
    * The driver keeps the top k per query by (distance ASC NULLS FIRST,
    * id) and returns a local DataFrame (query_id, knn_rank, `idCol`,
    * distance_score), plus each query's shortlist ids in (adc, id) order
    * — the late oracle re-ranks exactly these. Nothing shuffles, and the
    * driver holds at most B × shortlist ids.
    *
    * EAGER: both jobs run when this is called. `idCol` may be any
    * orderable type (int, long, string: ties break by its own SQL
    * ordering), the same in `codes` and `vectors`.
    */
  def batchSearch(codes: DataFrame, vectors: DataFrame, vecCol: String,
                  idCol: String, queries: Seq[(Int, Array[Float])],
                  codebooks: Array[Array[Array[Float]]], k: Int,
                  shortlist: Int): (DataFrame, Map[Int, Seq[Any]]) = {
    require(k >= 1, s"k must be >= 1, got $k")
    val idType = codes.schema(idCol).dataType
    require(vectors.schema(idCol).dataType == idType,
      s"$idCol is ${vectors.schema(idCol).dataType.catalogString} in the vectors " +
        s"but ${idType.catalogString} in the codes")
    val lists = batchShortlist(codes, idCol, queries, codebooks, shortlist)
      .map { case (q, l) => q -> l.map(_._2) }
    val qids = queries.map(_._1).toArray
    val qvecs = queries.map(_._2).toArray
    // catalyst id → indices of the queries that shortlisted it
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    val wanted: Map[Any, Array[Int]] = qids.indices
      .flatMap(q => lists(qids(q)).map(id => toCatalyst(id) -> q))
      .groupBy(_._1).map { case (id, qs) => id -> qs.map(_._2).distinct.toArray }
    // In-filter literals in string order: plan determinism only
    val read = vectorRead(vectors, vecCol, idCol,
      lists.values.flatten.toSeq.distinct.sortBy(String.valueOf(_)))
    val vecType = read.schema(1).dataType
    val hits = read.queryExecution.toRdd.mapPartitions { it =>
      val cosine = Knn.taskCosine(vecType)
      val qs = qvecs.map(UnsafeArrayData.fromPrimitiveArray)
      it.flatMap { row =>
        wanted.get(row.get(0, idType)).iterator.flatMap { qIdx =>
          val id = InternalRow.copyValue(row.get(0, idType))
          qIdx.iterator.map { q =>
            val d = if (row.isNullAt(1)) null
              else cosine.nullSafeEval(row.getArray(1), qs(q)).asInstanceOf[java.lang.Double]
            (qids(q), d, id)
          }
        }
      }
    }.collect()
    (Knn.rankedLocal(vectors.sparkSession, idCol, idType, hits.toSeq, k), lists)
  }

  /** [[batchSearch]]'s second job reads exactly this: `vectors` filtered
    * to `ids` (pushed into the scan), projected to (`idCol`, `vecCol`).
    */
  private[graft] def vectorRead(vectors: DataFrame, vecCol: String, idCol: String,
                                ids: Seq[Any]): DataFrame =
    vectors.filter(col(idCol).isin(ids: _*)).select(col(idCol), col(vecCol))

  /** [[batchSearch]] over one encoded relation that carries both the
    * codes and the vectors. Ranked rows (query_id, knn_rank, `idCol`,
    * distance_score); EAGER, like [[batchSearch]].
    */
  def batchSearchRescore(encoded: DataFrame, vecCol: String, idCol: String,
                         queries: Seq[(Int, Array[Float])],
                         codebooks: Array[Array[Array[Float]]],
                         k: Int, shortlist: Int): DataFrame =
    batchSearch(encoded, encoded, vecCol, idCol, queries, codebooks, k, shortlist)._1

  /** The PER-QUERY execution shape of batch PQ serving: B independent
    * TakeOrderedAndProject scans of the codes relation (zero shuffle,
    * zero sort — each is [[searchRescore]]'s plan), unioned and
    * re-ranked. Reads B× the codes bytes of [[batchSearchRescore]]; it
    * measured ~2.4× faster than the shared pass at a CACHE-RESIDENT
    * 2M codes × 32 queries when that pass still ranked under a map-side
    * window sort, and loses whenever the codes are not cache-resident;
    * [[graft.plans.IvfProbeRule.choosePqBatchShape]] makes that call
    * from one replayable integer comparison. Identical output to
    * [[batchSearchRescore]] by the ADC determinism contract.
    */
  def batchSearchRescorePerQuery(encoded: DataFrame, vecCol: String,
                                 idCol: String,
                                 queries: Seq[(Int, Array[Float])],
                                 codebooks: Array[Array[Array[Float]]],
                                 k: Int, shortlist: Int): DataFrame = {
    require(queries.nonEmpty, "batchSearchRescorePerQuery: empty query batch")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("distance_score").asc, col(idCol).asc)
    queries.map { case (qid, v) =>
      searchRescore(encoded, vecCol, idCol, v, codebooks, k, shortlist)
        .withColumn("query_id", lit(qid))
    }.reduce(_ unionByName _)
      .withColumn("knn_rank", row_number().over(w))
      .filter(col("knn_rank") <= k)
  }

  /** The ADC-shortlist job of [[batchSearch]] alone: ONE pass over the
    * codes for the WHOLE batch (the amortized N·m scan the batch-aware
    * cost model prices). Each task keeps, per query, a bounded heap of
    * its `shortlist` best rows by (adc ASC NULLS FIRST, id ASC), with
    * adc = t(0)(c₀) + t(1)(c₁) + … added left to right in Double over
    * the query's driver-computed table t ([[adcTable]]; the same sum
    * [[adcScore]] builds), NULL for a NULL `pq_codes` array or element;
    * the driver merges the heaps. Returns each query's shortlist as
    * (adc, id) in that order (ids as Scala values).
    *
    * A `pq_codes` array whose length is not m, or a code outside
    * [0, ksub), fails the job with a message naming the row's id.
    */
  def batchShortlist(codes: DataFrame, idCol: String,
                     queries: Seq[(Int, Array[Float])],
                     codebooks: Array[Array[Array[Float]]],
                     shortlist: Int): Map[Int, Seq[(java.lang.Double, Any)]] = {
    require(queries.nonEmpty, "batchShortlist: empty query batch")
    require(queries.map(_._1).distinct.length == queries.length,
      "batchShortlist: duplicate query ids")
    require(shortlist >= 1, s"shortlist must be >= 1, got $shortlist")
    val tables = queries.map { case (_, v) => adcTable(v, codebooks) }.toArray
    val m = codebooks.length
    val rel = codes.select(col(idCol), col("pq_codes"))
    val idType = rel.schema(0).dataType
    val found = rel.queryExecution.toRdd.mapPartitions { it =>
      val order = Knn.byScoreThenId(idType)
      val heaps = tables.map(_ =>
        new java.util.PriorityQueue[(java.lang.Double, Any)](shortlist, order.reverse))
      it.foreach { row =>
        val id = if (row.isNullAt(0)) null else InternalRow.copyValue(row.get(0, idType))
        val cs = if (row.isNullAt(1)) null else row.getArray(1)
        if (cs != null && cs.numElements() != m)
          throw new IllegalArgumentException(
            s"pq_codes of $idCol = $id has ${cs.numElements()} codes; want m = $m")
        var q = 0
        while (q < tables.length) {
          val e = (adcOf(tables(q), cs, idCol, id), id)
          val h = heaps(q)
          if (h.size < shortlist) h.add(e)
          else if (order.lt(e, h.peek())) { h.poll(); h.add(e) }
          q += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
        h.iterator.asScala.map(e => (q, e))
      }
    }.collect()
    val order = Knn.byScoreThenId(idType)
    val toScala = CatalystTypeConverters.createToScalaConverter(idType)
    val byQ = found.groupBy(_._1)
    queries.indices.map { q =>
      queries(q)._1 -> byQ.getOrElse(q, Array.empty).map(_._2).sorted(order)
        .take(shortlist).map { case (adc, id) => (adc, toScala(id)) }.toSeq
    }.toMap
  }

  /** One row's ADC against one query's table: the left-associated sum,
    * NULL when the codes or one of them is NULL.
    */
  private def adcOf(t: Array[Array[Double]], cs: ArrayData, idCol: String,
                    id: Any): java.lang.Double = {
    if (cs == null) return null
    var acc = 0.0; var mi = 0
    while (mi < t.length) {
      if (cs.isNullAt(mi)) return null
      val c = cs.getInt(mi)
      if (c < 0 || c >= t(mi).length)
        throw new IllegalArgumentException(
          s"pq_codes of $idCol = $id: code $c in subspace $mi is outside [0, ${t(mi).length})")
      acc = if (mi == 0) t(0)(c) else acc + t(mi)(c)
      mi += 1
    }
    acc
  }
}
