package graft.operators

import graft.functions.CosineDistance
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.{SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact (brute-force) k-nearest-neighbor search — the reference's
  * flagship query (`streamlit_app.py:55-73`):
  *
  * {{{
  * SELECT ..., COSINE_DISTANCE(addr_vec, TO_VECTOR(:q, 384)) AS distance_score
  * FROM hotels ORDER BY distance_score ASC FETCH FIRST k ROWS ONLY
  * }}}
  *
  * Spark shape: `withColumn(distance) → orderBy → limit(k)`, which Catalyst
  * plans as `TakeOrderedAndProject` — a per-partition bounded heap merged
  * on the driver. No shuffle of the corpus, no global sort: the same
  * physical algorithm Oracle's FETCH FIRST uses, but distributed. This is
  * the plan that survives 100 TB: each task returns ≤ k rows.
  *
  * Determinism: ties on distance are broken by `idCol` (the reference's
  * own ordering is nondeterministic on ties — SURVEY §7.3).
  */
object Knn {

  /** Distance metrics supported by the search API. */
  sealed trait Metric { def apply(a: Column, b: Column): Column }
  case object Cosine extends Metric { def apply(a: Column, b: Column): Column = cosineDistance(a, b) }
  case object L2 extends Metric { def apply(a: Column, b: Column): Column = l2Distance(a, b) }
  case object NegDot extends Metric { def apply(a: Column, b: Column): Column = -dotProduct(a, b) }

  /** The reference UI's k domain: the Streamlit slider pins top_k to
    * [1, 10] (`streamlit_app.py:209` — min_value=1, max_value=10), so an
    * out-of-range k is clamped to the domain edge, never an error.
    */
  val ReferenceMinK = 1
  val ReferenceMaxK = 10

  /** Clamp k into the reference UI's [1, 10] domain. */
  def clampK(k: Int): Int = math.min(math.max(k, ReferenceMinK), ReferenceMaxK)

  /** Reference-parity search: identical to [[search]] but with k clamped
    * to the slider range the reference exposes — the API a reference user
    * actually gets (they cannot ask Oracle for k = 10000 through the UI).
    */
  def referenceSearch(corpus: DataFrame, vecCol: String, idCol: String,
                      queryVec: Array[Float], k: Int,
                      metric: Metric = Cosine): DataFrame =
    search(corpus, vecCol, idCol, queryVec, clampK(k), metric)

  /** Exact top-k under `metric` for a single query vector. */
  def search(corpus: DataFrame, vecCol: String, idCol: String,
             queryVec: Array[Float], k: Int,
             metric: Metric = Cosine,
             distCol: String = "distance_score"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    corpus
      .withColumn(distCol, metric(col(vecCol), typedLit(queryVec)))
      .orderBy(col(distCol).asc, col(idCol).asc)
      .limit(k)
  }

  /** The reference's end-to-end entry point (`perform_similarity_search`,
    * streamlit_app.py:45-52): TEXT query → embed on the driver (one
    * vector → literal in the plan) → exact top-k. The corpus must have
    * been embedded with the same model.
    */
  def searchText(corpus: DataFrame, vecCol: String, idCol: String,
                 queryText: String, k: Int,
                 model: graft.functions.EmbeddingModel,
                 metric: Metric = Cosine): DataFrame =
    search(corpus, vecCol, idCol, model.encode(queryText), k, metric)

  /** Filtered (hybrid) search: relational predicate + KNN. The predicate
    * is applied *before* the distance so Catalyst pushes it into the scan
    * (partition/file pruning at scale).
    */
  def filteredSearch(corpus: DataFrame, predicate: Column, vecCol: String,
                     idCol: String, queryVec: Array[Float], k: Int,
                     metric: Metric = Cosine): DataFrame =
    search(corpus.filter(predicate), vecCol, idCol, queryVec, k, metric)

  /** Batch KNN: top-k per query for a whole table of queries.
    *
    * `queries` (small: query_id, query vector) is broadcast; the corpus —
    * the big side — streams through a BroadcastNestedLoopJoin without
    * shuffling, then a window ranked per query keeps k rows. At 100 TB the
    * corpus never moves; only (|queries| × k) rows survive the rank
    * filter. The rank shuffle is over corpus×queries rows — for very large
    * query batches switch to the ANN path (operators.Ann).
    */
  def batchSearch(corpus: DataFrame, queries: DataFrame,
                  corpusVecCol: String, corpusIdCol: String,
                  queryVecCol: String, queryIdCol: String,
                  k: Int, metric: Metric = Cosine): DataFrame = {
    val dist = metric(col(corpusVecCol), col(queryVecCol))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("distance_score").asc, col(corpusIdCol).asc)
    corpus
      .crossJoin(broadcast(queries))
      .withColumn("distance_score", dist)
      .withColumn("knn_rank", row_number().over(w))
      .filter(col("knn_rank") <= k)
  }

  /** Reference-parity result shaping (`streamlit_app.py:221-234`):
    * `match_score = round((1 − distance) × 100, 2)` and its display string,
    * sorted score-descending for RAG context assembly.
    */
  def withMatchScore(results: DataFrame, idCol: String,
                     distCol: String = "distance_score"): DataFrame =
    results
      .withColumn("match_score", round((lit(1.0) - col(distCol)) * 100.0, 2))
      .withColumn("display_score", concat(col("match_score").cast("string"), lit("%")))
      .orderBy(col("match_score").desc, col(idCol).asc)

  // ------------------------------------------------------------------
  // In-task exact re-rank: the ANN paths that score their candidates
  // where they find them (Nsw's opened graph, Pq's batch kernel) share
  // the SQL re-rank's distance, ordering and result shape through these.
  // ------------------------------------------------------------------

  /** The SQL re-rank's cosine, evaluated directly inside a task:
    * `CosineDistance` over a stored vector of type `vecType` (left) and
    * an array<float> query (right) — Double accumulation in element
    * order, NULL when a norm is 0 or the dimensions differ, exactly as
    * [[search]]'s codegen'd expression computes it.
    */
  def taskCosine(vecType: DataType): CosineDistance =
    CosineDistance(BoundReference(0, vecType, nullable = false),
      BoundReference(1, ArrayType(FloatType), nullable = false))

  /** SQL's `ORDER BY score ASC, id ASC` over catalyst values: NULL scores
    * first, doubles by `SQLOrderingUtil.compareDoubles` (NaN last,
    * -0.0 = 0.0), then the id column's own SQL ordering (NULL first).
    */
  def byScoreThenId(idType: DataType): Ordering[(java.lang.Double, Any)] = {
    val ids = TypeUtils.getInterpretedOrdering(idType)
    def nullsFirst[T](a: T, b: T)(cmp: => Int): Int =
      if (a == null) { if (b == null) 0 else -1 } else if (b == null) 1 else cmp
    (a, b) => {
      val c = nullsFirst(a._1, b._1)(
        SQLOrderingUtil.compareDoubles(a._1.doubleValue, b._1.doubleValue))
      if (c != 0) c else nullsFirst(a._2, b._2)(ids.compare(a._2, b._2))
    }
  }

  /** The driver's half of an in-task re-rank: each query's top k of its
    * (query_id, distance, id) hits by [[byScoreThenId]], as a local
    * DataFrame (query_id, knn_rank, `idCol`, distance_score), queries
    * ascending. Ids are catalyst values of `idType`.
    */
  def rankedLocal(spark: SparkSession, idCol: String, idType: DataType,
                  hits: Seq[(Int, java.lang.Double, Any)], k: Int): DataFrame = {
    val order = byScoreThenId(idType)
    val toScala = CatalystTypeConverters.createToScalaConverter(idType)
    val ranked = hits.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (qid, rs) =>
      rs.map(r => (r._2, r._3)).sorted(order).take(k).zipWithIndex
        .map { case ((d, id), i) => Row(qid, i + 1, toScala(id), d) }
    }
    val schema = StructType(Seq(
      StructField("query_id", IntegerType, nullable = false),
      StructField("knn_rank", IntegerType, nullable = false),
      StructField(idCol, idType),
      StructField("distance_score", DoubleType)))
    spark.createDataFrame(java.util.Arrays.asList(ranked: _*), schema)
  }
}
