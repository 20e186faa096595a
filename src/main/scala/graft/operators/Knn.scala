package graft.operators

import graft.functions.CosineDistance
import graft.functions.VectorFunctions._
import graft.plans.{IvfCatalog, LshCatalog}
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, JoinedRow, RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import scala.collection.concurrent.TrieMap

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
  *
  * One session asks many top-k queries of the same store (the
  * reference's Streamlit app asks one per user request), so a cosine
  * search over a plain, unpartitioned, unindexed file store does not
  * re-decode it each time: [[openCorpus]] decodes it once into executor
  * memory, with every stored vector's norm, and [[search]] scores the
  * held rows. The plan keeps the same shape — a per-task bounded heap
  * merged by `TakeOrderedAndProject`, one job per request — and the
  * same result, bit for bit.
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

  /** Exact top-k under `metric` for a single query vector: the corpus
    * rows plus `distCol`, the k smallest by (`distCol` ASC NULLS FIRST,
    * `idCol` ASC).
    *
    * A cosine search over a corpus [[openCorpus]] can hold is answered
    * from the held rows: `TakeOrderedAndProject` over a `Scan
    * ExistingRDD` whose tasks each score their block and return their k
    * best rows, bit-equal to the scan path's. Any other search (a
    * filtered or computed corpus, a partitioned or index-registered
    * store, L2 or NegDot) plans as `withColumn(distance) → orderBy →
    * limit(k)` over the corpus's own plan.
    */
  def search(corpus: DataFrame, vecCol: String, idCol: String,
             queryVec: Array[Float], k: Int,
             metric: Metric = Cosine,
             distCol: String = "distance_score"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val schema = corpus.schema
    val opened =
      if (metric == Cosine && !schema.fieldNames.exists(_.equalsIgnoreCase(distCol)) &&
          schema.find(_.name == idCol).exists(f => RowOrdering.isOrderable(f.dataType)))
        openCorpus(corpus, vecCol)
      else None
    opened match {
      case Some(held) => held.search(corpus.sparkSession, idCol, queryVec, k, distCol)
      case None =>
        corpus
          .withColumn(distCol, metric(col(vecCol), typedLit(queryVec)))
          .orderBy(col(distCol).asc, col(idCol).asc)
          .limit(k)
    }
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
                     distCol: String = "distance_score"): DataFrame = {
    // both columns read the distance, not each other, so the two
    // projections collapse into one above the top-k's Sort and Limit,
    // which then plan as one TakeOrderedAndProject (one job)
    val score = round((lit(1.0) - col(distCol)) * 100.0, 2)
    results
      .withColumn("match_score", score)
      .withColumn("display_score", concat(score.cast("string"), lit("%")))
      .orderBy(col("match_score").desc, col(idCol).asc)
  }

  // ------------------------------------------------------------------
  // Opened corpus: a store decoded once and held for every later search
  // ------------------------------------------------------------------

  /** √‖v‖² with the SQL cosine's accumulation: Double, element order. */
  private def norm(v: ArrayData): Double = {
    var s = 0.0; var i = 0
    val n = v.numElements()
    while (i < n) { val x = v.getFloat(i).toDouble; s += x * x; i += 1 }
    math.sqrt(s)
  }

  /** One scan partition of an opened corpus as its executor holds it:
    * the partition's rows, decoded once, and the [[norm]] of each row's
    * vector (NaN where the vector is NULL; it is never read there).
    */
  private final case class HeldBlock(rows: Array[UnsafeRow], norms: Array[Double])

  /** A store's rows held in executor memory, one persisted block per
    * scan partition, for [[search]] to score without reading the files.
    *
    * Why the scores are bit-equal to the scan path's:
    * `CosineDistance` accumulates dot, ‖a‖² and ‖b‖² in three
    * independent chains and returns `1 − dot / (√‖a‖² · √‖b‖²)`, NULL
    * when that denominator is 0. A task here runs the dot chain alone
    * and takes √‖a‖² from the block and √‖b‖² from the driver, each
    * computed once by the same chain, so every double is the one the
    * scan path computes. A NULL vector or a dimension that differs from
    * the query's scores NULL, as there.
    *
    * The blocks live until a fresh read of the same store lists other
    * files, or the SparkContext stops. A block evicted from storage
    * memory is rebuilt from the files by the next search that needs it.
    */
  final class OpenedCorpus private[Knn] (blocks: RDD[HeldBlock], schema: StructType,
                                         vecIdx: Int) {

    /** The top k of the held rows for one query: a lazy plan
      * `TakeOrderedAndProject(distCol ASC, idCol ASC) ← Scan ExistingRDD`
      * whose tasks each keep a bounded heap by [[byScoreThenId]] over
      * their block and emit only its ≤ k rows (the corpus columns plus
      * `distCol`).
      */
    private[Knn] def search(spark: SparkSession, idCol: String, queryVec: Array[Float],
                            k: Int, distCol: String): DataFrame = {
      val idIdx = schema.fieldIndex(idCol)
      val idType = schema(idIdx).dataType
      val vi = vecIdx
      val q = queryVec.map(_.toDouble)
      val qNorm = norm(ArrayData.toArrayData(queryVec))
      val best = blocks.mapPartitions { it =>
        val order = byScoreThenId(idType)
        // worst kept hit on top, so one comparison decides each row
        val heap = new java.util.PriorityQueue[((java.lang.Double, Any), UnsafeRow)](
          (a: ((java.lang.Double, Any), UnsafeRow), b: ((java.lang.Double, Any), UnsafeRow)) =>
            order.compare(b._1, a._1))
        it.foreach { b =>
          var r = 0
          while (r < b.rows.length) {
            val row = b.rows(r)
            val score: java.lang.Double =
              if (row.isNullAt(vi)) null
              else {
                val v = row.getArray(vi)
                if (v.numElements() != q.length) null
                else {
                  var dot = 0.0; var i = 0
                  while (i < q.length) { dot += v.getFloat(i).toDouble * q(i); i += 1 }
                  val denom = b.norms(r) * qNorm
                  if (denom == 0.0) null else 1.0 - dot / denom
                }
              }
            val key = (score, row.get(idIdx, idType))
            if (heap.size < k) heap.add((key, row))
            else if (order.compare(key, heap.peek._1) < 0) { heap.poll(); heap.add((key, row)) }
            r += 1
          }
        }
        Iterator.continually(heap.poll()).takeWhile(_ != null)
          .map { case ((score, _), row) => new JoinedRow(row, InternalRow(score)): InternalRow }
      }
      ColumnShim.internalCreateDataFrame(spark, best,
          schema.add(StructField(distCol, DoubleType, nullable = true)))
        .orderBy(col(distCol).asc, col(idCol).asc)
        .limit(k)
    }

    private[Knn] def release(): Unit =
      if (!blocks.sparkContext.isStopped) blocks.unpersist(blocking = false)
  }

  /** What an opened corpus is keyed by: the store's root paths, file
    * format and read options, the projected columns, the vector column.
    */
  private final case class StoreKey(roots: Seq[String], format: String,
                                    options: Map[String, String], schema: StructType,
                                    vecCol: String)

  /** (path, length, mtime) of every file a relation lists, by path. */
  private type Listing = Seq[(String, Long, Long)]

  /** One store's opened corpus, built at most once: the first caller
    * builds under the slot's lock, concurrent callers wait for it.
    * `None` once built means the blocks did not all fit in storage
    * memory, and this listing is served from the scan.
    */
  private final class Slot(val sc: SparkContext, val listing: Listing) {
    private var built: Option[Option[OpenedCorpus]] = None
    def open(build: => Option[OpenedCorpus]): Option[OpenedCorpus] = synchronized {
      if (built.isEmpty) built = Some(build)
      built.get
    }
    def release(): Unit = synchronized {
      built.flatten.foreach(_.release())
      built = Some(None)
    }
  }

  private val slots = TrieMap.empty[StoreKey, Slot]

  /** The store under `corpus`'s analyzed plan, when a held copy can
    * answer its cosine searches: a file relation, bare or under a
    * projection of its own columns, with no partition columns, a file
    * index that lists its files, a root path registered in neither
    * [[IvfCatalog]] nor [[LshCatalog]] (their rewrites stay the
    * optimizer's), distinct column names and `vecCol` an
    * `array<float>` column.
    */
  private def heldStore(corpus: DataFrame, vecCol: String): Option[(StoreKey, Listing)] = {
    val relation = corpus.queryExecution.analyzed match {
      case l: LogicalRelation => Some(l)
      case Project(list, l: LogicalRelation) if list.forall {
            case a: Attribute => l.outputSet.contains(a)
            case _ => false
          } => Some(l)
      case _ => None
    }
    val schema = corpus.schema
    val names = schema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT))
    relation.map(_.relation).collect {
      case fs: HadoopFsRelation if fs.partitionSchema.isEmpty &&
          names.distinct.length == names.length &&
          schema.find(_.name == vecCol).exists(_.dataType match {
            case ArrayType(FloatType, _) => true
            case _ => false
          }) =>
        fs
    }.flatMap { fs =>
      val roots = fs.location.rootPaths.map(_.toString)
      fs.location match {
        case files: PartitioningAwareFileIndex
            if IvfCatalog.lookup(roots).isEmpty && LshCatalog.lookup(roots).isEmpty =>
          val listing = files.allFiles()
            .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sortBy(_._1)
          Some((StoreKey(roots, fs.fileFormat.toString, fs.options, schema, vecCol), listing))
        case _ => None
      }
    }
  }

  /** Whether every listed file is still on its file system with the
    * length and modification time the listing recorded.
    */
  private def onDisk(listing: Listing, spark: SparkSession): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    listing.forall { case (p, len, mtime) =>
      val path = new Path(p)
      try {
        val st = path.getFileSystem(conf).getFileStatus(path)
        st.getLen == len && st.getModificationTime == mtime
      } catch { case _: java.io.IOException => false }
    }
  }

  /** Decode `corpus` once into persisted blocks (one job), with each
    * row's vector norm. Blocks that do not all fit in storage memory are
    * unpersisted: None.
    */
  private def build(corpus: DataFrame, key: StoreKey): Option[OpenedCorpus] = {
    val schema = corpus.schema
    val vi = schema.fieldIndex(key.vecCol)
    val blocks = corpus.queryExecution.toRdd.mapPartitions { it =>
      val toUnsafe = UnsafeProjection.create(schema)
      val rows = it.map(r => toUnsafe(r).copy()).toArray
      Iterator(HeldBlock(rows, rows.map(r => if (r.isNullAt(vi)) Double.NaN else norm(r.getArray(vi)))))
    }.setName(s"opened corpus ${key.roots.mkString(", ")}").persist(StorageLevel.MEMORY_ONLY)
    blocks.count()
    val held = new OpenedCorpus(blocks, schema, vi)
    if (ColumnShim.cachedPartitions(blocks) == blocks.getNumPartitions) Some(held)
    else { held.release(); None }
  }

  /** The opened corpus of the store `corpus` reads, when a held copy can
    * answer its cosine searches over `vecCol` (see [[heldStore]] for
    * which stores qualify); built on the first call per store and
    * listing, then shared.
    *
    * Each call re-stats the listed files through the Hadoop FileSystem
    * API. If one changed, the held copy is dropped and the caller gets
    * None, so the search reads the files as the corpus's plan does (and
    * fails as it does, when they are gone). A fresh read of a rewritten
    * store lists new files and replaces the old held copy.
    */
  def openCorpus(corpus: DataFrame, vecCol: String): Option[OpenedCorpus] =
    heldStore(corpus, vecCol).flatMap { case (key, listing) =>
      val spark = corpus.sparkSession
      if (!onDisk(listing, spark)) {
        slots.get(key).filter(_.listing == listing).foreach { s =>
          if (slots.remove(key, s)) s.release()
        }
        None
      } else {
        val sc = spark.sparkContext
        val (slot, replaced) = slots.synchronized {
          slots.get(key) match {
            case Some(s) if (s.sc eq sc) && s.listing == listing => (s, None)
            case old =>
              val s = new Slot(sc, listing)
              slots.put(key, s)
              (s, old)
          }
        }
        replaced.foreach(_.release())
        slot.open(build(corpus, key))
      }
    }

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
