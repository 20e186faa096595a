package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftshim.{ColumnShim => ExpressionUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** Column-API surface for the vector expressions, plus the wire-format
  * helpers the reference uses (`TO_VECTOR` / bracketed-string
  * serialization — `ingest_hotels.py:23,29`, `streamlit_app.py:53,64-67`).
  *
  * `registerAll` exposes everything to SQL so `spark.sql("SELECT
  * cosine_distance(a, b) ...")` works identically to the Column API.
  */
object VectorFunctions {

  def dotProduct(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def cosineDistance(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineDistance(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def cosineSimilarity(a: Column, b: Column): Column =
    lit(1.0) - cosineDistance(a, b)

  def l2Distance(a: Column, b: Column): Column =
    ExpressionUtils.column(L2Distance(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def l2Norm(a: Column): Column =
    ExpressionUtils.column(L2Norm(ExpressionUtils.expression(a)))

  def l2Normalize(a: Column): Column =
    ExpressionUtils.column(L2Normalize(ExpressionUtils.expression(a)))

  /** Parse the reference's wire format `"[v1,v2,…]"` into array<float>
    * (Oracle `TO_VECTOR(:v)` — `ingest_hotels.py:29`). Malformed input →
    * NULL (from_json semantics), mirroring the reference's null-on-error
    * LOB handling (`streamlit_app.py:95-96`).
    */
  def toVector(s: Column): Column =
    from_json(s, ArrayType(FloatType, containsNull = false))

  /** Dim-pinned parse — `TO_VECTOR(:v, 384)` parity
    * (`streamlit_app.py:66`): the reference pins the dimension at parse
    * time. A parse that succeeds but yields the wrong arity is as
    * malformed as unparseable text → NULL on either failure.
    */
  def toVector(s: Column, dim: Int): Column = {
    val parsed = toVector(s)
    when(size(parsed) === dim, parsed)
  }

  /** Serialize array<float> to the reference wire format `"[v1,v2,…]"`
    * (`streamlit_app.py:53`).
    */
  def vectorToString(v: Column): Column =
    concat(lit("["), array_join(v, ","), lit("]"))

  def vectorDim(v: Column): Column = size(v)

  /** Ingest-boundary dimension guard: the reference pins dim only at query
    * time (`streamlit_app.py:66`); we enforce it at write time. Returns the
    * column unchanged or raises at execution.
    */
  def assertDim(v: Column, dim: Int): Column =
    when(size(v) === dim, v).otherwise(raise_error(concat(
      lit(s"vector dimension mismatch: expected $dim, got "), size(v).cast("string"))))

  /** Symmetric int8 quantization scale: max |component| (double). */
  def quantScale(v: Column): Column =
    array_max(transform(v, x => abs(x.cast("double"))))

  /** Symmetric per-vector int8 quantization: q_i = round(v_i/amax·127)
    * ∈ [-127, 127]. Cuts vector storage/bandwidth 4× — the standard
    * memory-bound ANN trick (distances on int8 with one per-vector
    * scale). Pure projection (HOF transform, codegen'd); zero vectors
    * quantize to zeros rather than NaN. HALF_UP rounding matches
    * DuckDB's `round`.
    *
    * `amax` must be a MATERIALIZED column (project [[quantScale]] under
    * a distinct name first) — any expression placed inside the lambda
    * re-evaluates per element, turning the row cost O(d) → O(d²).
    */
  def quantizeInt8(v: Column, amax: Column): Column =
    transform(v, x =>
      when(amax === 0.0, lit(0))
        .otherwise(round(x.cast("double") / amax * 127.0).cast("int")))

  /** Dequantized (lossy) float vector from [[quantizeInt8]] output and
    * its [[quantScale]].
    */
  def dequantizeInt8(q: Column, amax: Column): Column =
    transform(q, x => (x.cast("double") * amax / 127.0).cast("float"))

  /** [[quantizeInt8]] with SATURATION — for calibrated scales that do
    * not dominate the data (a SAMPLED amax: components above the
    * calibration max must clip to ±127, exactly what a deployed int8
    * model does). Same half-up arithmetic as `QuantizedEmbedder`
    * (floor(x·127/amax + 0.5), clamp) so the encode-time and
    * backfill-time seams are bit-identical and share one oracle form.
    * Same O(d) contract as [[quantizeInt8]]: `amax` must be a
    * materialized column or literal.
    */
  def quantizeInt8Clamped(v: Column, amax: Column): Column =
    transform(v, x =>
      when(amax === 0.0, lit(0))
        .otherwise(greatest(lit(-127.0),
          least(lit(127.0),
            floor(x.cast("double") * 127.0 / amax + lit(0.5)))).cast("int")))

  /** Per-vector count of components [[quantizeInt8Clamped]] SATURATES
    * at the given scale — the calibration-quality telemetry (0 under a
    * dominating full-corpus amax by construction). Mirrors the
    * quantizer's amax == 0 guard (ADVICE r19): at zero scale the
    * quantizer outputs 0 (unclipped) while an unguarded division here
    * yields NaN/Infinity and miscounts positive components as clipped —
    * the telemetry must agree with the quantizer on the degenerate
    * calibration.
    */
  def clippedCount(v: Column, amax: Column): Column =
    when(amax === 0.0, lit(0))
      .otherwise(size(filter(v, x => {
        val raw = floor(x.cast("double") * 127.0 / amax + lit(0.5))
        raw > 127.0 || raw < -127.0
      })))

  /** First 15 hex chars of md5 as a non-negative BIGINT — a portable,
    * SQL-reproducible 60-bit hash (DuckDB: `('0x' ||
    * substring(md5(x),1,15))::BIGINT`). Used for minhash/fingerprints so
    * the DuckDB oracle can recompute identical signatures; Spark's own
    * `hash()`/`xxhash64` are not portable across engines.
    */
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Register the five vector functions for SQL, each only when the
    * session does not have it yet: `GraftSession.prepare` runs before
    * every query, and a session built with `GraftExtensions` has them
    * from the start, so re-registering would replace them (and log a
    * warning) on every call.
    */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def register(name: String, builder: Seq[Expression] => Expression): Unit =
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    register("dot_product", es => DotProduct(es(0), es(1)))
    register("cosine_distance", es => CosineDistance(es(0), es(1)))
    register("l2_distance", es => L2Distance(es(0), es(1)))
    register("l2_norm", es => L2Norm(es.head))
    register("l2_normalize", es => L2Normalize(es.head))
  }
}
