package graft

import graft.functions.VectorFunctions.{cosineDistance, l2Distance}
import graft.operators.Knn
import graft.plans.IvfCatalog
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The opened corpus against the scan path it replaces: a cosine
  * `Knn.search` over a plain file store answers from rows held in
  * executor memory, and must return exactly the rows, in order and with
  * bit-equal distances, that the scan plan `withColumn(cosine) →
  * orderBy → limit` returns over the same files.
  */
class KnnOpenedSpec extends SparkSpec {

  private val dim = 16

  private def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_knn_opened_$tag").toString

  private def deleteDir(dir: String): Unit =
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()

  /** Seeded unit-ish vectors plus the malformed rows the cosine has to
    * score like the SQL expression: a zero vector (NULL), a row of the
    * wrong dimension (NULL), a NULL vector (NULL), a NaN component (NaN,
    * ranked last) and exact copies of a vector under other ids (ties
    * broken by id).
    */
  private def corpusRows(n: Int, seed: Long): Seq[(Int, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    val plain = (0 until n).map(i => i -> Array.fill(dim)(rnd.nextGaussian().toFloat))
    val copyOf = plain(3)._2
    plain ++ Seq(
      (n, Array.fill(dim)(0f)),
      (n + 1, Array.fill(dim + 1)(0.5f)),
      (n + 2, null),
      (n + 3, Array.tabulate(dim)(i => if (i == 5) Float.NaN else 1f)),
      (n + 4, copyOf.clone()),
      (n + 5, copyOf.clone()))
  }

  /** Writes `rows` with ids of `idType` as a store of `files` files. */
  private def writeStore(dir: String, rows: Seq[(Int, Array[Float])], idType: DataType,
                         files: Int): Unit = {
    val schema = StructType(Seq(
      StructField("id", idType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("text", StringType)))
    def idOf(i: Int): Any = idType match {
      case IntegerType => i
      case LongType => i.toLong * 1000003L
      case StringType => f"doc-${i * 7919 % 1000}%03d-$i"
    }
    val data = rows.map { case (i, v) => Row(idOf(i), if (v == null) null else v.toSeq, s"text $i") }
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
      .repartition(files).write.mode("overwrite").parquet(dir)
  }

  /** The scan path as `Knn.search` plans it for a corpus it cannot hold. */
  private def scanPath(corpus: DataFrame, q: Array[Float], k: Int): DataFrame =
    corpus.withColumn("distance_score", cosineDistance(col("embedding"), typedLit(q)))
      .orderBy(col("distance_score").asc, col("id").asc)
      .limit(k)

  private def executed(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def isOpened(df: DataFrame): Boolean = {
    val p = executed(df)
    p.contains("Scan ExistingRDD") && !p.contains("FileScan")
  }

  /** Rows equal field by field, the distance by its raw bits. */
  private def assertSameRows(got: Seq[Row], want: Seq[Row], what: String): Unit = {
    assert(got.length == want.length, s"$what: ${got.length} rows, want ${want.length}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g.schema == w.schema, s"$what row $i schema")
      assert(g.get(0) == w.get(0), s"$what row $i id ${g.get(0)} != ${w.get(0)}")
      def bits(r: Row) = Option(r.getAs[scala.collection.Seq[Float]](1))
        .map(_.map(java.lang.Float.floatToRawIntBits).toSeq)
      assert(bits(g) == bits(w), s"$what row $i vector")
      assert(g.get(2) == w.get(2), s"$what row $i text")
      val (gd, wd) = (g.get(3), w.get(3))
      assert((gd == null && wd == null) || (gd != null && wd != null &&
        java.lang.Double.doubleToRawLongBits(g.getDouble(3)) ==
          java.lang.Double.doubleToRawLongBits(w.getDouble(3))),
        s"$what row $i distance $gd != $wd")
    }
  }

  test("opened ≡ scan: identical rows and bit-equal distances over malformed rows, ties, k > rows, several files, int/long/string ids") {
    val rows = corpusRows(60, seed = 11)
    val queries = Seq(
      rows(3)._2,                                    // the tied vector itself
      Array.tabulate(dim)(i => (i % 3 - 1).toFloat), // another direction
      Array.fill(dim)(0f),                           // zero query: every score NULL
      Array.fill(dim + 1)(0.5f))                     // the odd row's dimension
    Seq(IntegerType, LongType, StringType).foreach { idType =>
      val dir = tempDir(idType.typeName)
      try {
        writeStore(dir, rows, idType, files = 3)
        val store = spark.read.parquet(dir)
        assert(store.inputFiles.length == 3)
        for (q <- queries; k <- Seq(1, 5, 7, 200)) {
          val opened = Knn.search(store, "embedding", "id", q, k)
          assert(isOpened(opened), s"expected the opened path:\n${executed(opened)}")
          assertSameRows(opened.collect().toSeq, scanPath(store, q, k).collect().toSeq,
            s"${idType.typeName} k=$k")
        }
        // the malformed rows rank where SQL ranks them: the three NULL
        // scores first, the NaN score last
        val all = Knn.search(store, "embedding", "id", rows(3)._2, k = 200).collect()
        assert(all.length == rows.length)
        assert(all.take(3).forall(_.isNullAt(3)))
        assert(all.last.getDouble(3).isNaN)
      } finally deleteDir(dir)
    }
  }

  test("a store rewritten in place is rebuilt from its new files, never served stale") {
    val dir = tempDir("rewrite")
    val q = Array.tabulate(dim)(i => (i + 1).toFloat)
    def openedRdds = spark.sparkContext.getPersistentRDDs.values
      .count(_.name == s"opened corpus file:$dir")
    try {
      writeStore(dir, corpusRows(40, seed = 1), LongType, files = 2)
      val before = spark.read.parquet(dir)
      val first = Knn.search(before, "embedding", "id", q, k = 5)
      assert(isOpened(first))
      val firstRows = first.collect().toSeq
      assert(openedRdds == 1)

      writeStore(dir, corpusRows(40, seed = 2), LongType, files = 2)
      // the old DataFrame's files are gone: it fails as the scan path does
      val stale = intercept[Exception](Knn.search(before, "embedding", "id", q, k = 5).collect())
      val scanStale = intercept[Exception](scanPath(before, q, 5).collect())
      assert(stale.getClass == scanStale.getClass)

      val after = spark.read.parquet(dir)
      val second = Knn.search(after, "embedding", "id", q, k = 5)
      assert(isOpened(second))
      val secondRows = second.collect().toSeq
      assertSameRows(secondRows, scanPath(after, q, 5).collect().toSeq, "rewritten store")
      assert(secondRows.map(_.get(0)) != firstRows.map(_.get(0)))
      // the new listing replaced the old blocks rather than adding to them
      assert(openedRdds == 1)
    } finally deleteDir(dir)
  }

  test("filtered corpora, index-registered stores and L2 plan their distance over Scan parquet") {
    val dir = tempDir("fallback")
    val q = Array.tabulate(dim)(i => (i + 1).toFloat)
    try {
      writeStore(dir, corpusRows(40, seed = 3), LongType, files = 1)
      def scansWith(df: DataFrame, distance: String): Unit = {
        val p = executed(df)
        assert(p.contains(distance) && p.contains("Scan parquet") &&
          !p.contains("Scan ExistingRDD"), p)
      }
      val filtered = Knn.search(spark.read.parquet(dir).filter(col("id") > 5L),
        "embedding", "id", q, k = 5)
      scansWith(filtered, "cosine_distance")
      val l2 = Knn.search(spark.read.parquet(dir), "embedding", "id", q, k = 5, metric = Knn.L2)
      scansWith(l2, "l2_distance")
      assert(l2.collect().toSeq == spark.read.parquet(dir)
        .withColumn("distance_score", l2Distance(col("embedding"), typedLit(q)))
        .orderBy(col("distance_score").asc, col("id").asc).limit(5).collect().toSeq)
      IvfCatalog.register(dir, Array(Array.fill(dim)(1f)), nprobe = 1)
      try {
        scansWith(Knn.search(spark.read.parquet(dir), "embedding", "id", q, k = 5), "cosine_distance")
      } finally IvfCatalog.unregister(dir)
      assert(isOpened(Knn.search(spark.read.parquet(dir), "embedding", "id", q, k = 5)))
    } finally deleteDir(dir)
  }

  test("8 concurrent first searches share one build and return identical rows") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val dir = tempDir("concurrent")
    val q = Array.tabulate(dim)(i => (i % 4).toFloat)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      writeStore(dir, corpusRows(200, seed = 5), LongType, files = 4)
      // one fresh read per caller, before counting: reading a parquet
      // store runs its own footer job
      val stores = (0 until 8).map(_ => spark.read.parquet(dir))
      val counter = new JobCounter(spark)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val runs = try {
        val fs = stores.map { store =>
          Future {
            gate.await()
            (Knn.openCorpus(store, "embedding"),
              Knn.search(store, "embedding", "id", q, k = 10).collect().toSeq)
          }
        }
        gate.countDown()
        val out = fs.map(Await.result(_, 5.minutes))
        val (jobs, _) = counter.settle()
        // one build job, then one job per search
        assert(jobs == 9, s"$jobs jobs")
        out
      } finally counter.close()
      val opened = runs.map(_._1)
      assert(opened.forall(o => o.isDefined && (o.get eq opened.head.get)))
      runs.foreach(r => assert(r._2 == runs.head._2))
      assertSameRows(runs.head._2, scanPath(spark.read.parquet(dir), q, 10).collect().toSeq,
        "concurrent")
    } finally {
      pool.shutdown()
      deleteDir(dir)
    }
  }
}
