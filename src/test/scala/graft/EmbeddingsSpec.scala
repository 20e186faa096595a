package graft

import graft.functions.{Embeddings, Md5, Md5PortableEmbedder}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The md5 hash family and the portable embedder against a test-local
  * copy of their string formulas (hex via `%02x`, `parseLong` of the
  * first 12 chars, the 13th-nibble sign), and the `embedDataFrame`
  * contract: schema, carried-through columns, e₀ fallback, and vectors
  * bit-equal to `model.encode`.
  */
class EmbeddingsSpec extends SparkSpec {

  private def oracleHex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString
  private def oracleLong48(hex: String): Long =
    java.lang.Long.parseLong(hex.substring(0, 12), 16)
  private def oraclePositive(hex: String): Boolean =
    Character.digit(hex.charAt(12), 16) < 8

  private def oracleEncode(text: String, dim: Int): Array[Float] = {
    val acc = new Array[Double](dim)
    var any = false
    text.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").foreach { t =>
      if (t.nonEmpty) {
        any = true
        val hex = oracleHex(t.getBytes("UTF-8"))
        acc((oracleLong48(hex) % dim).toInt) += (if (oraclePositive(hex)) 1.0 else -1.0)
      }
    }
    if (!any) acc(0) = 1.0
    val norm = math.sqrt(acc.map(x => x * x).sum)
    val out = new Array[Float](dim)
    if (norm == 0.0) out(0) = 1.0f
    else acc.indices.foreach(i => out(i) = (acc(i) / norm).toFloat)
    out
  }

  private def bits(v: Array[Float]): Seq[Int] = v.toSeq.map(java.lang.Float.floatToRawIntBits)

  private val fixedTokens = Seq("", "a", "z", "0", "9", "hotel", "Hotel", "123456",
    "spark sql", "zürich", "東京", "naïve café", "😀", "\u0000", "tab\there", "a" * 1000)

  test("md5 helpers equal the %02x / parseLong / nibble formulas") {
    val r = new scala.util.Random(7)
    val tokens = fixedTokens ++ Seq.fill(2000)(r.alphanumeric.take(1 + r.nextInt(12)).mkString)
    var positive, negative = 0
    tokens.foreach { t =>
      val bytes = t.getBytes("UTF-8")
      val hex = oracleHex(bytes)
      val d = Md5.digestOf(bytes)
      assert(d.length == 16, t)
      assert(Md5.hexOf(d) == hex, t)
      assert(Md5.hexOfBytes(bytes) == hex, t)
      assert(Md5.hex(t) == hex, t)
      assert(Md5.long48Of(d) == oracleLong48(hex), t)
      assert(Md5.long48(t) == oracleLong48(hex), t)
      assert((d(6) >= 0) == oraclePositive(hex), t)
      if (oraclePositive(hex)) positive += 1 else negative += 1
    }
    // both sign branches and the full 48-bit range were exercised
    assert(positive > 500 && negative > 500)
    assert(tokens.exists(t => Md5.long48(t) >= (1L << 47)))
  }

  test("Md5PortableEmbedder(64) and (384) are bit-equal to the string formula") {
    val vocab = Array("hotel", "Spark", "ZÜRICH", "naïve", "café", "東京", "room-42",
      "pool", "wifi", "near", "the", "beach", "2024", "x", "😀", "", " ", "!!", "\t")
    val r = new scala.util.Random(11)
    def word(): String =
      if (r.nextBoolean()) vocab(r.nextInt(vocab.length))
      else r.alphanumeric.take(1 + r.nextInt(8)).mkString
    val texts = Seq("", "   ", "!!!", "東京") ++
      Seq.fill(1200)(Seq.fill(r.nextInt(20))(word()).mkString(" "))
    Seq(64, 384).foreach { dim =>
      val model = Md5PortableEmbedder(dim)
      texts.foreach { t =>
        assert(bits(model.encode(t)) == bits(oracleEncode(t, dim)), s"dim $dim, text '$t'")
      }
      val e0 = new Array[Float](dim)
      e0(0) = 1.0f
      Seq("", "   ", "!!!").foreach(t => assert(bits(model.encode(t)) == bits(e0)))
    }
  }

  test("embedDataFrame: schema, input columns carried through, e₀, vectors = encode") {
    val inSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("n", IntegerType, nullable = true),
      StructField("x", DoubleType, nullable = true),
      StructField("text", StringType, nullable = true),
      StructField("tags", ArrayType(IntegerType, containsNull = true), nullable = true)))
    val r = new scala.util.Random(3)
    val words = Array("hotel", "pool", "zürich", "東京", "beach", "42")
    val rows = (0 until 700).map { i =>
      val text = i % 7 match {
        case 0 => null
        case 1 => "   "
        case _ => Seq.fill(1 + r.nextInt(8))(words(r.nextInt(words.length))).mkString(" ")
      }
      Row(i.toLong, if (i % 5 == 0) null else i * 3, if (i % 4 == 0) null else i / 7.0,
        text, if (i % 6 == 0) null else Seq(i, null, -i))
    }
    val in = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), inSchema)
    val model = Md5PortableEmbedder(64)
    val out = Embeddings.embedDataFrame(in, "text", "vec", model)
    assert(out.schema == StructType(inSchema.fields :+
      StructField("vec", ArrayType(FloatType, containsNull = false), nullable = true)))
    val got = out.collect()
    assert(got.length == rows.length)
    val byId = got.map(g => g.getLong(0) -> g).toMap
    val e0 = new Array[Float](64)
    e0(0) = 1.0f
    rows.foreach { want =>
      val g = byId(want.getLong(0))
      assert(Row.fromSeq(g.toSeq.take(5)) == want)
      val vec = g.getSeq[Float](5).toArray
      val text = want.getString(3)
      assert(bits(vec) == bits(model.encode(if (text == null) "" else text)))
      if (text == null || text.isBlank) assert(bits(vec) == bits(e0))
    }
  }

  test("embedDataFrame rejects a missing or non-string text column") {
    val in = spark.range(3).toDF("id")
    intercept[IllegalArgumentException](
      Embeddings.embedDataFrame(in, "text", "vec", Md5PortableEmbedder(8)))
    intercept[IllegalArgumentException](
      Embeddings.embedDataFrame(in, "id", "vec", Md5PortableEmbedder(8)))
  }
}
