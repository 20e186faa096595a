package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{ArrayType, FloatType, StringType, StructField, StructType}
import scala.util.hashing.MurmurHash3

/** Text-embedding contract + a deterministic offline encoder.
  *
  * The reference embeds with `SentenceTransformer("all-MiniLM-L6-v2")`,
  * 384-d, L2-normalized (`ingest_hotels.py:6,23`; `streamlit_app.py:28,52`).
  * The engine is agnostic to *which* encoder fills the vector column — the
  * contract is (dim, unit L2 norm). This environment has no model
  * downloads, so [[HashingEmbedder]] is a seeded feature-hashing encoder
  * with the same contract; swap in a real model by implementing
  * [[EmbeddingModel]].
  */
trait EmbeddingModel extends Serializable {
  def dim: Int
  def encode(text: String): Array[Float]
  /** Batched entry point — the unit the distributed pipeline calls once
    * per partition iterator chunk (real models amortize inference over
    * the batch).
    */
  def encodeBatch(texts: Seq[String]): Seq[Array[Float]] = texts.map(encode)
}

/** JVM-side md5 helpers mirroring the DuckDB-portable hash family
  * (`Duck.md5Long48`): lowercase hex digest, first 12 hex chars as a
  * non-negative 48-bit long. Shared by the portable embedder, the
  * multimodal stub decoder, the LSH sign planes and the HNSW levels so
  * every consumer hashes identically to its SQL oracle.
  *
  * Hash consumers read the digest BYTES ([[digestOf]], [[long48Of]]):
  * the first 6 bytes big-endian are the first 12 hex chars, and byte 6's
  * top bit is the 13th hex nibble's `>= 8`. No string is formatted or
  * parsed on those paths. The hex strings ([[hex]], [[hexOfBytes]],
  * [[hexOf]]) are for keys and display.
  */
object Md5 {
  // per-thread digest instance: getInstance per call would pay a JCA
  // provider lookup + allocation PER TOKEN on the embedding hot path
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HexDigits = "0123456789abcdef".toCharArray

  /** The raw 16-byte md5 digest of `bytes`. */
  def digestOf(bytes: Array[Byte]): Array[Byte] = {
    val md = digest.get()
    md.reset()
    md.digest(bytes)
  }

  /** The first 6 digest bytes read big-endian: a non-negative 48-bit
    * long, ≡ `parseLong(hex.substring(0, 12), 16)`.
    */
  def long48Of(digest: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < 6) { h = (h << 8) | (digest(i) & 0xffL); i += 1 }
    h
  }

  /** A digest as lowercase hex, two chars per byte. */
  def hexOf(digest: Array[Byte]): String = {
    val out = new Array[Char](2 * digest.length)
    var i = 0
    while (i < digest.length) {
      out(2 * i) = HexDigits((digest(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(digest(i) & 0xf)
      i += 1
    }
    new String(out)
  }
  /** Lowercase hex of the md5 digest of `bytes` (32 chars). */
  def hexOfBytes(bytes: Array[Byte]): String = hexOf(digestOf(bytes))
  def hex(s: String): String = hexOfBytes(s.getBytes(StandardCharsets.UTF_8))
  /** First 12 hex chars as a non-negative 48-bit long (≡ DuckDB
    * `('0x' || substring(md5(s), 1, 12))::BIGINT`).
    */
  def long48(s: String): Long = long48Of(digestOf(s.getBytes(StandardCharsets.UTF_8)))
}

/** Cross-engine-portable feature-hashing encoder: token → md5-derived
  * (bucket, ±1 sign), accumulated then L2-normalized — same contract as
  * [[HashingEmbedder]] (fixed dim, unit norm, e₀ fallback) but every
  * step is reproducible in ANSI-ish SQL, so the embed→KNN ingest
  * pipeline gets a hash-checkable DuckDB oracle:
  *
  *   - tokens: `lower` + split `[^a-z0-9]+` (≡ `Duck.toks`);
  *   - bucket = md5Long48(token) % dim;
  *   - sign   = +1 if the 13th md5 hex nibble < 8 else −1;
  *   - accumulate ±1 in Double (exact integers), norm = √Σw², each
  *     component quantized `(w/norm).toFloat` — IEEE round-to-nearest,
  *     ≡ DuckDB `CAST(w/norm AS FLOAT)` — so both engines hold
  *     bit-identical float32 vectors.
  */
final case class Md5PortableEmbedder(dim: Int = 64) extends EmbeddingModel {
  override def encode(text: String): Array[Float] = {
    val acc = new Array[Double](dim)
    // Locale.ROOT: the default-locale overload would produce dotless-ı
    // tokens under a tr/az JVM locale and break oracle parity with
    // DuckDB's locale-independent lower()
    val tokens = Md5PortableEmbedder.TokenSplit.split(text.toLowerCase(java.util.Locale.ROOT))
    var any = false
    tokens.foreach { t =>
      if (t.nonEmpty) {
        any = true
        val d = Md5.digestOf(t.getBytes(StandardCharsets.UTF_8))
        val idx = (Md5.long48Of(d) % dim).toInt
        // 13th hex nibble < 8 ⇔ byte 6's top bit clear
        val sign = if (d(6) >= 0) 1.0 else -1.0
        acc(idx) += sign
      }
    }
    if (!any) acc(0) = 1.0
    var norm = 0.0
    var i = 0
    while (i < dim) { norm += acc(i) * acc(i); i += 1 }
    norm = math.sqrt(norm)
    val out = new Array[Float](dim)
    if (norm == 0.0) { out(0) = 1.0f }
    else { i = 0; while (i < dim) { out(i) = (acc(i) / norm).toFloat; i += 1 } }
    out
  }
}

object Md5PortableEmbedder {
  // ≡ String.split("[^a-z0-9]+"), compiled once instead of per call
  private val TokenSplit = java.util.regex.Pattern.compile("[^a-z0-9]+")
}

/** Deterministic feature-hashing encoder: token → (murmur3 bucket, ±1
  * sign), accumulated then L2-normalized. Same text → same unit vector on
  * any JVM. Empty/blank text → basis vector e₀ (a real encoder never
  * returns the zero vector either).
  */
final case class HashingEmbedder(dim: Int = 384, seed: Int = 42) extends EmbeddingModel {
  override def encode(text: String): Array[Float] = {
    val acc = new Array[Double](dim)
    // Locale.ROOT for locale-independent results (see Md5PortableEmbedder)
    val tokens = text.toLowerCase(java.util.Locale.ROOT).split("[^\\p{L}\\p{N}]+")
    var any = false
    tokens.foreach { t =>
      if (t.nonEmpty) {
        any = true
        val h = MurmurHash3.stringHash(t, seed)
        val idx = java.lang.Math.floorMod(h, dim)
        val sign = if (MurmurHash3.stringHash(t, seed + 1) >= 0) 1.0 else -1.0
        acc(idx) += sign
      }
    }
    if (!any) acc(0) = 1.0
    var norm = 0.0
    var i = 0
    while (i < dim) { norm += acc(i) * acc(i); i += 1 }
    norm = math.sqrt(norm)
    val out = new Array[Float](dim)
    if (norm == 0.0) { out(0) = 1.0f }
    else { i = 0; while (i < dim) { out(i) = (acc(i) / norm).toFloat; i += 1 } }
    out
  }
}

/** Calibrated-scale INT8 quantization wrapped around ANY
  * [[EmbeddingModel]] — the seam an ONNX-int8 model swap-in lands on
  * (r17 verdict #7): the pipeline keeps calling the same
  * `embedDataFrame(…, model)` and only the model VALUE changes. Encode
  * = base encode → symmetric int8 quantize at the CALIBRATED scale
  * (`amax`, the max |component| observed on a calibration corpus —
  * static post-training quantization's standard calibration) →
  * dequantize back to float32, so downstream operators see the same
  * Array[Float] contract and the quantization ERROR is exactly what a
  * deployed int8 model would exhibit. Arithmetic is SQL-replayable
  * half-up rounding (`floor(x·127/amax + 0.5)` clamped to ±127), so
  * the quantized seam gets the same bit-level DuckDB oracle as the
  * float seam (`txt_embed_quantized` hash-checks the error telemetry).
  */
final case class QuantizedEmbedder(base: EmbeddingModel, amax: Double)
    extends EmbeddingModel {
  require(amax > 0.0, s"calibrated scale amax=$amax must be > 0")
  override def dim: Int = base.dim
  override def encode(text: String): Array[Float] = {
    val x = base.encode(text)
    val out = new Array[Float](x.length)
    var i = 0
    while (i < x.length) {
      val q = math.floor(x(i).toDouble * 127.0 / amax + 0.5)
      val qc = math.max(-127.0, math.min(127.0, q))
      out(i) = (qc * amax / 127.0).toFloat
      i += 1
    }
    out
  }
}

object Embeddings {
  /** Column-level embedding (Scala UDF — fine for moderate widths; the
    * batched path below is the 100 TB shape).
    */
  def embedColumn(model: EmbeddingModel)(text: Column): Column = {
    val f = udf((s: String) => if (s == null) null else model.encode(s))
    f(text)
  }

  /** Batched, partition-local embedding over a whole DataFrame — the
    * distributed analog of the reference's ingest loop
    * (`ingest_hotels.py:21-34`), but set-oriented: one task per partition,
    * model initialized once per partition (in real deployments the model
    * is a broadcast variable / executor-local singleton, per
    * `streamlit_app.py:25-28`'s `@st.cache_resource`), rows embedded in
    * batches of `batchSize` through [[EmbeddingModel.encodeBatch]].
    *
    * Output: every input column as it is, then `outCol`
    * (`array<float>` with no null elements, nullable). NULL text embeds
    * as the empty string. Rows are built as catalyst rows — the input
    * row carried through, the vector written as a primitive float array
    * (`UnsafeArrayData.fromPrimitiveArray`) — with no Row encoder, which
    * would box every component.
    *
    * The rows come from `df.queryExecution.toRdd`, so this call plans
    * `df` when it is made (not when the result runs), and under
    * adaptive execution it also runs any exchange in `df`'s plan.
    */
  def embedDataFrame(df: DataFrame, textCol: String, outCol: String,
                     model: EmbeddingModel, batchSize: Int = 256): DataFrame = {
    val spark = df.sparkSession
    val textIdx = df.schema.fieldNames.indexOf(textCol)
    require(textIdx >= 0, s"no column $textCol")
    require(df.schema(textIdx).dataType.isInstanceOf[StringType],
      s"column $textCol is ${df.schema(textIdx).dataType.simpleString}, not string")
    val schema = StructType(df.schema.fields :+
      StructField(outCol, ArrayType(FloatType, containsNull = false), nullable = true))
    val bcModel = spark.sparkContext.broadcast(model)
    val rows = df.queryExecution.toRdd.mapPartitions[InternalRow] { it =>
      val m = bcModel.value
      // the scan reuses its row object: copy each one kept for a batch
      it.map(_.copy()).grouped(batchSize).flatMap { batch =>
        val vecs = m.encodeBatch(batch.map(r =>
          if (r.isNullAt(textIdx)) "" else r.getUTF8String(textIdx).toString))
        batch.lazyZip(vecs).map { (r, v) =>
          new JoinedRow(r, new GenericInternalRow(Array[Any](UnsafeArrayData.fromPrimitiveArray(v))))
        }
      }
    }
    ColumnShim.internalCreateDataFrame(spark, rows, schema)
  }
}
