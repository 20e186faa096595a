package graft.operators

import graft.functions.{EmbeddingModel, Md5, Md5PortableEmbedder}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for the training-data pipeline (driver
  * mandate): images/audio/video ride through the engine as opaque
  * `BinaryType` columns plus a typed metadata struct; decode /
  * feature-extract / frame-sample run as partition-local batched
  * functions over those bytes.
  *
  * The ACTUAL media decoders are STUBBED (this container has no
  * image/audio libraries): [[StubDecoder]] derives deterministic fake
  * metadata/features from the bytes. Everything Spark-side — schemas,
  * the binary column, partition-local batching, the mapPartitions
  * signature a real decoder would plug into — is real and tested
  * (MultimodalSpec). Swapping in a real decoder = replacing one
  * function, exactly like [[graft.functions.EmbeddingModel]].
  *
  * Scale notes: bytes stay columnar (parquet BINARY) end-to-end;
  * decode is a projection (no shuffle); batches amortize per-batch
  * decoder init the way a GPU/codec session would be amortized. Wide
  * binary columns should be stored with
  * `parquet.enable.dictionary=false` and read with a larger
  * `spark.sql.files.maxPartitionBytes` only if media are small; big
  * blobs belong in sidecar object storage with path columns — this
  * module covers the inline-bytes regime (thumbnails, audio snippets,
  * frame crops).
  */
object Multimodal {

  /** Media metadata carried alongside the bytes. */
  val mediaMetaType: StructType = StructType(Seq(
    StructField("media_type", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_channels", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false)))

  /** A decoded-media feature batch contract: bytes → metadata +
    * feature vector. Real implementations wrap an image/audio codec;
    * the stub is deterministic on the byte content.
    */
  trait MediaDecoder extends Serializable {
    def featureDim: Int
    def decode(bytes: Array[Byte]): (Row, Array[Float])
  }

  /** Deterministic fake decoder: "dimensions" and "duration" are bit
    * slices of the 48-bit md5-derived hash of the bytes; features are
    * the md5-portable embedder over the digest's 2-hex-char "byte"
    * tokens. Fixed contract, no I/O — and every step is reproducible in
    * DuckDB SQL (md5 of the UTF-8 stand-in bytes ≡ `md5(text)`), so the
    * decode query is hash-gated cross-engine, not rows-only. The Spark
    * plumbing around it is what's under test.
    */
  final case class StubDecoder(featureDim: Int = 16) extends MediaDecoder {
    private val embedder: EmbeddingModel = Md5PortableEmbedder(dim = featureDim)

    def decode(bytes: Array[Byte]): (Row, Array[Float]) = {
      val digest = Md5.digestOf(bytes)
      val h = Md5.long48Of(digest) // 48-bit, non-negative
      val w = 64 + (h % 1024L).toInt
      val ht = 64 + ((h >> 10) % 1024L).toInt
      val ch = 1 + ((h >> 20) % 4L).toInt
      val dur = (h >> 22) % 600000L
      val meta = Row("stub", w, ht, ch, dur)
      val featInput = Md5.hexOf(digest).grouped(2).mkString(" ")
      (meta, embedder.encode(featInput))
    }
  }

  /** Attach a fake binary media column derived from a string column —
    * the fixture tables carry no real media; UTF-8 bytes stand in so
    * the binary-column path (parquet BINARY, batching, decode) is
    * exercised end to end.
    */
  def withFakeMedia(df: DataFrame, textCol: String, mediaCol: String = "media"): DataFrame =
    df.withColumn(mediaCol, encode(col(textCol), "UTF-8"))

  /** Decode + feature-extract over the binary column: partition-local,
    * batched `mapPartitions` — the exact seam a real codec plugs into.
    * Appends `media_meta` (struct) and `media_features`
    * (array<float>).
    */
  def decodeAndExtract(df: DataFrame, mediaCol: String,
                       decoder: MediaDecoder = StubDecoder(),
                       batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(decoder)
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("media_meta", mediaMetaType, nullable = true),
      StructField("media_features", ArrayType(FloatType, containsNull = false), nullable = true)))
    val mediaIdx = df.schema.fieldNames.indexOf(mediaCol)
    require(mediaIdx >= 0, s"no column $mediaCol")
    df.mapPartitions { rows =>
      val dec = bc.value // one decoder per partition (codec init amortized)
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          Option(r.getAs[Array[Byte]](mediaIdx)) match {
            case None => Row.fromSeq(r.toSeq ++ Seq(null, null))
            case Some(bytes) =>
              val (meta, feats) = dec.decode(bytes)
              Row.fromSeq(r.toSeq ++ Seq(meta, feats.toSeq))
          }
        }
      }
    }(Encoders.row(outSchema))
  }

  /** "Resize" for image media, STUBBED like decode: a real
    * implementation decodes, scales to `targetW`×`targetH`, re-encodes;
    * the stub deterministically downsamples the byte payload to a
    * proportional length and rewrites the metadata dims. The engine
    * contract — binary in, binary out, metadata kept consistent,
    * shuffle-free projection — is the part under test.
    */
  def resizeMedia(df: DataFrame, mediaCol: String, metaCol: String,
                  targetW: Int, targetH: Int,
                  batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(df.schema.fields.map {
      case f if f.name == metaCol => f.copy(dataType = mediaMetaType)
      case f => f
    })
    val mediaIdx = df.schema.fieldNames.indexOf(mediaCol)
    val metaIdx = df.schema.fieldNames.indexOf(metaCol)
    require(mediaIdx >= 0 && metaIdx >= 0, s"need $mediaCol and $metaCol")
    df.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          (Option(r.getAs[Array[Byte]](mediaIdx)), Option(r.getAs[Row](metaIdx))) match {
            case (Some(bytes), Some(meta)) =>
              // positional access per mediaMetaType: (media_type, width,
              // height, n_channels, duration_ms) — nested rows carry no
              // schema inside mapPartitions
              val (w, h) = (meta.getInt(1), meta.getInt(2))
              val scale = math.min(1.0,
                (targetW.toDouble * targetH) / math.max(1, w.toLong * h).toDouble)
              val outLen = math.max(1, (bytes.length * scale).toInt)
              val stride = math.max(1, bytes.length / outLen)
              val resized = bytes.indices.by(stride).map(bytes).toArray
              val newMeta = Row(meta.getString(0) + "/resized",
                targetW, targetH, meta.getInt(3), meta.getLong(4))
              Row.fromSeq(r.toSeq.updated(mediaIdx, resized).updated(metaIdx, newMeta))
            case _ => r
          }
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Frame sampling for "video" media: every `stride`-th fixed-size
    * slice of the byte payload becomes one frame row
    * (posexplode-style). Real video uses codec keyframes; the slicing,
    * schema, and row explosion are the engine-side contract.
    */
  def sampleFrames(df: DataFrame, mediaCol: String, idCol: String,
                   frameBytes: Int = 16, stride: Int = 4): DataFrame = {
    val slices = transform(
      sequence(lit(0), greatest(lit(0),
        ((length(col(mediaCol)) - 1) / lit(frameBytes * stride)).cast("int"))),
      i => struct(
        (i * stride).as("frame_no"),
        col(mediaCol).substr(i * lit(frameBytes * stride) + 1, lit(frameBytes)).as("frame")))
    df.select(col(idCol), posexplode(slices).as(Seq("pos", "f")))
      .select(col(idCol), col("f.frame_no").as("frame_no"), col("f.frame").as("frame"))
  }

  /** Align sampled frames to the caption cue active at each frame's
    * timestamp — the (image, text) pair construction of a multimodal
    * training pipeline, as the GENERAL union-window as-of: cues
    * (doc_id, cue_idx, ts, cap) and frames (doc_id, frame_idx, ts)
    * union into one doc-keyed stream, and a running max of the cue
    * struct carries the latest cue at-or-before each row (a cue at
    * exactly the frame's ts matches — kind orders cues first). ONE
    * doc-keyed shuffle, never a per-key range join, so hot assets stay
    * linear at scale. Frames before the first cue get a null
    * cue_idx/cap — callers decide the policy.
    */
  def alignFramesToCues(frames: DataFrame, cues: DataFrame): DataFrame = {
    val f = frames.select(col("doc_id"), col("ts"), lit(1).as("kind"),
      col("frame_idx").cast("long").as("idx"), lit(null).cast("string").as("cap"))
    val c = cues.select(col("doc_id"), col("ts"), lit(0).as("kind"),
      col("cue_idx").cast("long").as("idx"), col("cap"))
    alignTagged(c.unionByName(f))
  }

  /** The as-of core over a PRE-TAGGED (doc_id, ts, kind, idx, cap)
    * stream — kind 0 = cue (carries cap), kind 1 = frame. Callers that
    * can emit both event kinds from ONE generator (e.g. per-doc frame
    * AND cue arrays exploded together, the `mm_caption_align` shape)
    * skip the second corpus scan [[alignFramesToCues]]'s two-input
    * signature costs. The running-max cue struct is ordered by ts
    * FIRST (then cue_idx), so the carried cue is the latest
    * at-or-before BY TIMESTAMP — correct even when cue_idx is not
    * monotone in ts; among cues tied on ts the higher cue_idx wins
    * (ADVICE r17).
    */
  def alignTagged(tagged: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("ts"), col("kind"), col("idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("cue", max(when(col("kind") === 0,
        struct(col("ts").as("cue_ts"), col("idx").as("cue_idx"),
          col("cap").as("cue_cap")))).over(w))
      .filter(col("kind") === 1)
      .select(col("doc_id"), col("idx").as("frame_idx"),
        col("cue.cue_idx").as("cue_idx"), col("cue.cue_cap").as("cap"))
  }
}
