package perfbench

import scala.collection.mutable

/** Answers computed in plain Scala from collected data, never through
  * the engine's operators. The arithmetic follows each operator's
  * documented contract (Double accumulation in element order, ties by
  * id), so a correct engine matches bit for bit.
  */
object Oracle {

  /** 1 − dot(a,b)/(‖a‖·‖b‖), Double accumulation in element order;
    * NaN when a norm is zero (the engine returns NULL there).
    */
  def cosineDistance(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) Double.NaN else 1.0 - dot / denom
  }

  /** A collected vector store: ids ascending, vectors aligned. */
  final case class Store(ids: Array[Long], vecs: Array[Array[Float]]) {
    private lazy val pos: Map[Long, Int] = ids.zipWithIndex.toMap
    def vec(id: Long): Array[Float] = vecs(pos(id))

    /** Exact top-k by (distance, id): one distance pass, then an
      * insertion-ordered k-slot list (k is at most a few dozen).
      */
    def topK(q: Array[Float], k: Int): Array[(Long, Double)] = {
      val top = mutable.ArrayBuffer.empty[(Long, Double)]
      def before(a: (Long, Double), b: (Long, Double)) = a._2 < b._2 || (a._2 == b._2 && a._1 < b._1)
      var i = 0
      while (i < ids.length) {
        val e = (ids(i), cosineDistance(vecs(i), q))
        if (top.length < k || before(e, top.last)) {
          var j = top.length
          while (j > 0 && before(e, top(j - 1))) j -= 1
          top.insert(j, e)
          if (top.length > k) top.remove(k)
        }
        i += 1
      }
      top.toArray
    }
  }

  object Store {
    def apply(rows: Seq[(Long, Array[Float])]): Store = {
      val sorted = rows.sortBy(_._1)
      Store(sorted.map(_._1).toArray, sorted.map(_._2).toArray)
    }
  }

  /** The reference's match score, `round((1 − d)·100, 2)` half-up on the
    * decimal form of the double.
    */
  def matchScore(d: Double): Double =
    java.math.BigDecimal.valueOf((1.0 - d) * 100.0)
      .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue

  /** Whitespace-collapsed, trimmed, lower-cased text. */
  def normalize(text: String): String =
    text.replaceAll("\\s+", " ").trim.toLowerCase(java.util.Locale.ROOT)

  /** Exact-dedup answer: every id but the smallest of each group of
    * equal normalized text.
    */
  def exactDropIds(docs: Seq[Doc]): Set[Long] =
    docs.groupBy(d => normalize(d.text)).values
      .flatMap(g => g.map(_.id).sorted.drop(1)).toSet
}
