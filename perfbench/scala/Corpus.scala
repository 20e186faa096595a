package perfbench

import scala.collection.mutable

/** One generated document. */
final case class Doc(id: Long, text: String)

/** A generated batch plus the duplicates planted in it, as
  * (source id, copy id) pairs with source id < copy id.
  */
final case class Batch(docs: Array[Doc], exactCopies: Seq[(Long, Long)],
                       nearCopies: Seq[(Long, Long)]) {
  /** Order-sensitive checksum of every id and text — recorded with each
    * result so two runs can prove they saw the same inputs.
    */
  def checksum: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    docs.foreach { d =>
      md.update(java.lang.Long.toString(d.id).getBytes("UTF-8"))
      md.update(0.toByte)
      md.update(d.text.getBytes("UTF-8"))
      md.update(0.toByte)
    }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}

/** Seeded synthetic corpus, shaped like the `documents` fixture
  * (multilingual stopword-seeded token text, 10–100 tokens) but with a
  * wide Zipf vocabulary so 384-d hashed embeddings spread out. Every
  * document and query is a function of the seed alone.
  *
  * Planted duplicates give dedup known answers:
  *   - exact copies: the source text with its case and whitespace
  *     changed, so they are equal only after normalization;
  *   - near copies: an English source of at least 40 tokens with one or
  *     two tokens replaced.
  */
final class Corpus(seed: Long) {
  private val vocabSize = 4000
  private val exactShare = 0.04
  private val nearShare = 0.06

  private val stopwords: Map[String, Array[String]] = Map(
    "en" -> Array("the", "a", "and", "of", "to", "in", "is"),
    "de" -> Array("der", "die", "das", "und", "ist", "ein"),
    "es" -> Array("el", "la", "los", "y", "es", "un"),
    "fr" -> Array("le", "la", "les", "et", "est", "un"),
    "zh" -> Array("de", "shi", "le", "bu", "wo", "zai"))
  private val langs = Array("en", "en", "en", "en", "en", "en", "de", "es", "fr", "zh")
  private val reserved = stopwords.values.flatten.toSet

  /** The vocabulary is the same for every seed, so seeds differ in the
    * documents and queries drawn from one language, not in the language.
    */
  val vocab: Array[String] = {
    val r = new scala.util.Random(0x5eedL)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < vocabSize) {
      val len = 3 + r.nextInt(7)
      val w = Array.fill(len)(('a' + r.nextInt(26)).toChar).mkString
      if (!reserved(w)) seen += w
    }
    seen.toArray
  }

  /** Zipf(s = 1.07) cumulative weights over `vocab`. */
  private val cdf: Array[Double] = {
    val w = Array.tabulate(vocabSize)(i => 1.0 / math.pow(i + 1.0, 1.07))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def zipfToken(r: scala.util.Random): String = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    vocab(math.min(if (i >= 0) i else -i - 1, vocabSize - 1))
  }

  private def original(r: scala.util.Random, lang: String, n: Int,
                       noisy: Boolean): Array[String] =
    Array.fill(n) {
      if (r.nextDouble() < 0.12) {
        val sw = stopwords(lang); sw(r.nextInt(sw.length))
      } else if (noisy && r.nextDouble() < 0.5) "?!;--"
      else zipfToken(r)
    }

  /** `n` documents with ids `0 until n`; 4% of them are planted exact
    * copies and 6% near copies of earlier documents.
    */
  def batch(n: Int): Batch = {
    val r = new scala.util.Random(seed * 1000003L)
    val nExact = (n * exactShare).toInt
    val nNear = (n * nearShare).toInt
    val nOrig = n - nExact - nNear
    val toks = new Array[Array[String]](n)
    val lang = new Array[String](n)
    for (i <- 0 until nOrig) {
      lang(i) = langs(r.nextInt(langs.length))
      toks(i) = original(r, lang(i), 10 + r.nextInt(91), noisy = r.nextDouble() < 0.05)
    }
    val text = new Array[String](n)
    for (i <- 0 until nOrig) text(i) = toks(i).mkString(" ")
    val exact = (nOrig until nOrig + nExact).map { i =>
      val src = r.nextInt(nOrig)
      lang(i) = lang(src)
      toks(i) = toks(src)
      // equal after normalization only: upper-cased first token, runs
      // of mixed whitespace, surrounding blanks
      val t = toks(src)
      text(i) = "  " + (t.head.toUpperCase(java.util.Locale.ROOT) +: t.tail).mkString(" \t ") + " "
      (src.toLong, i.toLong)
    }
    val longEn = (0 until nOrig).filter(i => lang(i) == "en" && toks(i).length >= 40)
    val near = (nOrig + nExact until n).map { i =>
      val src = longEn(r.nextInt(longEn.length))
      lang(i) = "en"
      val t = toks(src).clone()
      (0 until 1 + r.nextInt(2)).foreach(_ => t(r.nextInt(t.length)) = zipfToken(r))
      toks(i) = t
      text(i) = t.mkString(" ")
      (src.toLong, i.toLong)
    }
    val docs = Array.tabulate(n)(i => Doc(i.toLong, text(i)))
    Batch(docs, exact, near)
  }

  /** Query text of 3–12 tokens drawn by corpus token frequency. */
  def queryText(r: scala.util.Random): String =
    Array.fill(3 + r.nextInt(10))(zipfToken(r)).mkString(" ")
}
