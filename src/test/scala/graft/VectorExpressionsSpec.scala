package graft

import graft.functions.VectorFunctions._
import graft.functions.HashingEmbedder
import org.apache.spark.sql.functions._

/** Unit + property tests for the Catalyst vector expressions
  * (SURVEY §5.2/§5.3): hand-computed values, codegen/interpreted
  * agreement, and algebraic properties on seeded-random vectors.
  */
class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private def dist1(a: Seq[Float], b: Seq[Float],
                    f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column): Option[Double] = {
    val r = Seq((a, b)).toDF("a", "b").select(f(col("a"), col("b")).as("d")).collect()(0)
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  test("cosine distance: identical → 0, orthogonal → 1, antiparallel → 2") {
    assert(math.abs(dist1(Seq(1f, 0f), Seq(1f, 0f), cosineDistance).get - 0.0) < 1e-12)
    assert(math.abs(dist1(Seq(1f, 0f), Seq(0f, 1f), cosineDistance).get - 1.0) < 1e-12)
    assert(math.abs(dist1(Seq(1f, 0f), Seq(-1f, 0f), cosineDistance).get - 2.0) < 1e-12)
  }

  test("cosine distance: zero vector → null, dim mismatch → null, null input → null") {
    assert(dist1(Seq(0f, 0f), Seq(1f, 0f), cosineDistance).isEmpty)
    assert(dist1(Seq(1f, 0f, 0f), Seq(1f, 0f), cosineDistance).isEmpty)
    val r = Seq((Seq(1f), Option.empty[Seq[Float]])).toDF("a", "b")
      .select(cosineDistance(col("a"), col("b")).as("d")).collect()(0)
    assert(r.isNullAt(0))
  }

  test("l2: pythagorean triple; dot: hand value; l2_norm") {
    assert(math.abs(dist1(Seq(0f, 0f), Seq(3f, 4f), l2Distance).get - 5.0) < 1e-12)
    assert(math.abs(dist1(Seq(1f, 2f, 3f), Seq(4f, 5f, 6f), dotProduct).get - 32.0) < 1e-12)
    val n = Seq(Tuple1(Seq(3f, 4f))).toDF("v").select(l2Norm(col("v"))).collect()(0).getDouble(0)
    assert(math.abs(n - 5.0) < 1e-12)
  }

  test("l2_normalize produces unit vectors; zero vector → null") {
    val out = Seq(Tuple1(Seq(3f, 4f))).toDF("v")
      .select(l2Normalize(col("v")).as("u")).collect()(0).getSeq[Float](0)
    assert(math.abs(out(0) - 0.6f) < 1e-6 && math.abs(out(1) - 0.8f) < 1e-6)
    val z = Seq(Tuple1(Seq(0f, 0f))).toDF("v")
      .select(l2Normalize(col("v")).as("u")).collect()(0)
    assert(z.isNullAt(0))
  }

  test("double-element arrays accepted (type coercion surface)") {
    val r = Seq((Seq(1.0, 0.0), Seq(0.0, 1.0))).toDF("a", "b")
      .select(cosineDistance(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("SQL registration matches Column API") {
    functions.VectorFunctions.registerAll(spark)
    val r = spark.sql("SELECT cosine_distance(array(1.0F, 0.0F), array(0.0F, 1.0F)) AS d")
      .collect()(0).getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("prepare registers the vector functions only when absent: a repeat call replaces none") {
    val reg = spark.sessionState.functionRegistry
    val names = Seq("dot_product", "cosine_distance", "l2_distance", "l2_norm", "l2_normalize")
    def builders = names.map(n => reg.lookupFunctionBuilder(
      org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    GraftSession.prepare(spark)
    val before = builders
    assert(before.forall(_.isDefined))
    GraftSession.prepare(spark)
    builders.zip(before).zip(names).foreach { case ((now, was), n) =>
      assert(now.get eq was.get, s"$n was re-registered")
    }
  }

  test("codegen and interpreted paths agree") {
    val df = Seq((Seq(1.5f, -2f, 3f), Seq(0.5f, 4f, -1f))).toDF("a", "b")
      .select(cosineDistance(col("a"), col("b")).as("c"),
        l2Distance(col("a"), col("b")).as("l"), dotProduct(col("a"), col("b")).as("d"),
        l2Normalize(col("a")).as("u"))
    val on = df.collect()(0)
    val key = "spark.sql.codegen.wholeStage"; val fac = "spark.sql.codegen.factoryMode"
    spark.conf.set(key, "false"); spark.conf.set(fac, "NO_CODEGEN")
    val off = try df.collect()(0) finally {
      spark.conf.set(key, "true"); spark.conf.set(fac, "FALLBACK")
    }
    assert(on.getDouble(0) == off.getDouble(0))
    assert(on.getDouble(1) == off.getDouble(1))
    assert(on.getDouble(2) == off.getDouble(2))
    assert(on.getSeq[Float](3) == off.getSeq[Float](3))
  }

  test("property: cosine ∈ [0,2]; 1−dot ≡ cosine on normalized vectors; symmetry") {
    val rnd = new scala.util.Random(42)
    val cases = (1 to 50).map { _ =>
      val n = 1 + rnd.nextInt(32)
      val a = Seq.fill(n)(rnd.nextFloat() * 20f - 10f)
      val b = Seq.fill(n)(rnd.nextFloat() * 20f - 10f)
      (a, b)
    }.filter { case (a, b) => a.exists(_ != 0f) && b.exists(_ != 0f) }
    val df = cases.toDF("a", "b").select(
      cosineDistance(col("a"), col("b")).as("cd"),
      cosineDistance(col("b"), col("a")).as("cdSym"),
      (lit(1.0) - dotProduct(l2Normalize(col("a")), l2Normalize(col("b")))).as("viaDot"))
    df.collect().foreach { r =>
      val cd = r.getDouble(0)
      assert(cd >= -1e-9 && cd <= 2.0 + 1e-9, s"cosine out of range: $cd")
      assert(cd == r.getDouble(1), "cosine not symmetric")
      assert(math.abs(cd - r.getDouble(2)) < 1e-5, "1-dot(normalized) != cosine")
    }
  }

  test("property: triangle inequality for l2 on seeded vectors") {
    val rnd = new scala.util.Random(7)
    val triples = (1 to 30).map { _ =>
      val n = 1 + rnd.nextInt(16)
      def v() = Seq.fill(n)(rnd.nextFloat() * 4f - 2f)
      (v(), v(), v())
    }
    val df = triples.toDF("a", "b", "c").select(
      l2Distance(col("a"), col("c")).as("ac"),
      (l2Distance(col("a"), col("b")) + l2Distance(col("b"), col("c"))).as("abc"))
    df.collect().foreach(r => assert(r.getDouble(0) <= r.getDouble(1) + 1e-6))
  }

  test("to_vector / vector_to_string round trip (wire-format parity P3∘P4)") {
    val v = Seq(0.25f, -1.5f, 3.0f)
    val df = Seq(Tuple1(v)).toDF("v")
      .select(toVector(vectorToString(col("v"))).as("rt"))
    assert(df.collect()(0).getSeq[Float](0) == v)
  }

  test("toVector(s, dim) pins the dimension: match parses, mismatch/malformed → null") {
    val df = Seq("[1.5,2.5,3.5]", "[1.5,2.5]", "not a vector", null)
      .toDF("s")
      .select(col("s"), toVector(col("s"), 3).as("v"))
      .collect()
    assert(df(0).getSeq[Float](1) == Seq(1.5f, 2.5f, 3.5f))
    assert(df(1).isNullAt(1), "wrong arity must parse to null")
    assert(df(2).isNullAt(1), "malformed input must parse to null")
    assert(df(3).isNullAt(1), "null input stays null")
  }

  test("property: quantize round-trip error ≤ amax/127 on seeded random vectors") {
    val rnd = new scala.util.Random(42)
    val vecs = Seq.tabulate(100)(i =>
      (i.toLong, Seq.fill(16)((rnd.nextFloat() - 0.5f) * 20f)))
    val rows = vecs.toDF("id", "v")
      .withColumn("amax", quantScale(col("v")))
      .withColumn("back", dequantizeInt8(quantizeInt8(col("v"), col("amax")), col("amax")))
      .select("v", "amax", "back").collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0); val amax = r.getDouble(1); val back = r.getSeq[Float](2)
      val bound = amax / 127.0 + 1e-6
      v.zip(back).foreach { case (a, b) =>
        assert(math.abs(a - b) <= bound, s"|$a - $b| > $bound (amax=$amax)")
      }
    }
  }

  test("quantizeInt8 round-trips within one quantization step; zero vector → zeros") {
    val df = Seq(
      Tuple1(Seq(0.5f, -1.0f, 0.25f, 0.0f)),
      Tuple1(Seq(0.0f, 0.0f))
    ).toDF("v")
      .withColumn("amax", quantScale(col("v")))
      .withColumn("q", quantizeInt8(col("v"), col("amax")))
      .withColumn("back", dequantizeInt8(col("q"), col("amax")))
      .collect()
    assert(df(0).getSeq[Int](2) == Seq(64, -127, 32, 0)) // 0.5/1*127=63.5 → HALF_UP 64
    val v = df(0).getSeq[Float](0); val back = df(0).getSeq[Float](3)
    val step = 1.0f / 127f
    v.zip(back).foreach { case (a, b) => assert(math.abs(a - b) <= step) }
    assert(df(1).getSeq[Int](2) == Seq(0, 0), "zero vector must not divide by zero")
  }

  test("assertDim passes on match and raises on mismatch") {
    val ok = Seq(Tuple1(Seq(1f, 2f))).toDF("v").select(assertDim(col("v"), 2))
    assert(ok.collect().length == 1)
    val bad = Seq(Tuple1(Seq(1f, 2f, 3f))).toDF("v").select(assertDim(col("v"), 2))
    intercept[Exception] { bad.collect() }
  }

  test("hashing embedder: deterministic, unit norm, fixed dim, blank fallback") {
    val e = HashingEmbedder(dim = 64, seed = 7)
    val v1 = e.encode("spark native engine"); val v2 = e.encode("spark native engine")
    assert(v1.toSeq == v2.toSeq && v1.length == 64)
    val norm = math.sqrt(v1.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
    assert(e.encode("").toSeq == (1.0f +: Seq.fill(63)(0.0f)))
  }
}
