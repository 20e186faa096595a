package perfbench

import scala.collection.mutable

import graft.functions.Embeddings
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Steps and checks more than one workload uses. */
object Common {

  /** Embeds every document of `batch` and writes the store of (`idCol`,
    * text, embedding) to `path`. Returns the seconds it took.
    */
  def writeStore(c: Ctx, batch: Batch, idCol: String, path: String): Double = {
    c.guard()
    val t0 = System.nanoTime()
    val docs = c.spark.createDataFrame(batch.docs.toSeq.map(d => (d.id, d.text))).toDF(idCol, "text")
    val emb = c.tr("embeddings.embedDataFrame") {
      val e = Embeddings.embedDataFrame(docs, "text", "embedding", c.model).cache()
      c.count("embeddings.docs", e.count().toDouble)
      e
    }
    c.tr("store.write")(emb.write.parquet(path))
    emb.unpersist(blocking = true)
    val s = (System.nanoTime() - t0) / 1e9
    c.count("store.bytes", c.dirBytes(path).toDouble)
    s
  }

  /** Collects (id, embedding) of a store for the oracle. */
  def collect(store: DataFrame, idCol: String): Seq[(Long, Array[Float])] = {
    import store.sparkSession.implicits._
    store.select(col(idCol), col("embedding")).as[(Long, Array[Float])].collect().toSeq
  }

  /** Every vector is 384-d and unit-norm, ids are unique, and the store
    * holds exactly the expected ids.
    */
  def vectorProblems(rows: Seq[(Long, Array[Float])], expected: Set[Long]): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val ids = rows.map(_._1)
    if (ids.distinct.length != ids.length) out += "store holds duplicate ids"
    if (ids.toSet != expected)
      out += s"store holds ${ids.toSet.size} ids, expected ${expected.size} " +
        s"(${(expected -- ids).size} missing, ${(ids.toSet -- expected).size} extra)"
    rows.foreach { case (id, v) =>
      if (v.length != 384) out += s"id $id has ${v.length} dimensions"
      else {
        val n = math.sqrt(v.map(x => x.toDouble * x).sum)
        if (math.abs(n - 1.0) > 1e-5) out += s"id $id has norm $n"
      }
    }
    out.toSeq
  }

  /** Collects a store for the oracle, checking it holds `expected`. */
  def oracleStore(c: Ctx, store: DataFrame, idCol: String, expected: Set[Long]): Oracle.Store = {
    val rows = collect(store, idCol)
    c.op(vectorProblems(rows, expected))
    Oracle.Store(rows)
  }

  /** Seeded query texts and k values, uniform in [1, 10]. */
  def queries(c: Ctx, gen: Corpus, n: Int): (Array[String], Array[Int]) = {
    val r = new scala.util.Random(c.o.seed * 7919L + 17L)
    (Array.fill(n)(gen.queryText(r)), Array.fill(n)(1 + r.nextInt(10)))
  }

  /** Top-k rows (id, distance) of one query in the order returned,
    * checked against the oracle's exact top-k over the ids `among`: same
    * ids, bit-equal distances, (distance, id) order.
    */
  def rankProblems(tag: String, got: Seq[(Long, Double)], q: Array[Float], k: Int,
                   oracle: Oracle.Store, among: Seq[Long]): Seq[String] = {
    val want = Oracle.Store(among.distinct.map(id => (id, oracle.vec(id)))).topK(q, k).toSeq
    if (got.map(_._1) != want.map(_._1))
      Seq(s"$tag: ids ${got.map(_._1).mkString(",")} != oracle ${want.map(_._1).mkString(",")}")
    else if (got.map(_._2) != want.map(_._2))
      Seq(s"$tag: distances differ from the oracle")
    else Nil
  }

  def recall(got: Seq[Long], want: Seq[Long]): Double =
    if (want.isEmpty) 1.0 else got.toSet.intersect(want.toSet).size.toDouble / want.size
}
