package graft

import graft.functions.{CentroidBuffer, CentroidAggregator, HashingEmbedder}
import graft.operators.{Ann, Nsw}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck properties over the driver-side (pure-JVM) components —
  * the parts of the engine that run outside Spark jobs: the offline
  * embedder contract, LSH probe-set combinatorics, IVF probe selection,
  * and the centroid aggregator algebra (SURVEY §5.3).
  */
class PropertySpec extends AnyFunSuite {

  private def check(label: String, prop: Prop, n: Int = 50): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, s"$label: ${res.status}")
  }

  private val textGen: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumStr, Gen.const(" "), Gen.asciiPrintableStr))
      .map(_.mkString(" "))

  test("embedder: every text maps to a unit vector of the declared dim, deterministically") {
    val e = HashingEmbedder(dim = 32, seed = 11)
    check("embedder", Prop.forAll(textGen) { t =>
      val v = e.encode(t)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.length == 32 && math.abs(norm - 1.0) < 1e-4 && v.toSeq == e.encode(t).toSeq
    })
  }

  test("portable embedder: unit vector of declared dim, deterministic, tokenization-stable") {
    val e = graft.functions.Md5PortableEmbedder(dim = 48)
    check("md5 embedder", Prop.forAll(textGen) { t =>
      val v = e.encode(t)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.length == 48 && math.abs(norm - 1.0) < 1e-4 && v.toSeq == e.encode(t).toSeq &&
        // tokenization invariance: separators/case cannot change the vector
        v.toSeq == e.encode(t.toUpperCase.replace(' ', '\t')).toSeq
    })
  }

  test("portable embedder matches the DuckDB-mirror formula token by token") {
    // the SQL oracle's construction recomputed in plain JVM code —
    // a divergence here would silently break every embed oracle row
    val e = graft.functions.Md5PortableEmbedder(dim = 16)
    val tokGen = Gen.nonEmptyListOf(Gen.alphaLowerStr.suchThat(_.nonEmpty)).map(_.mkString(" "))
    check("mirror", Prop.forAll(tokGen) { text =>
      val acc = new Array[Double](16)
      text.split(" ").filter(_.nonEmpty).foreach { t =>
        val hex = graft.functions.Md5.hex(t)
        val bucket = (java.lang.Long.parseLong(hex.take(12), 16) % 16).toInt
        acc(bucket) += (if (Character.digit(hex.charAt(12), 16) < 8) 1.0 else -1.0)
      }
      val norm = math.sqrt(acc.map(x => x * x).sum)
      val expect =
        if (norm == 0.0) { val z = new Array[Float](16); z(0) = 1.0f; z.toSeq }
        else acc.map(x => (x / norm).toFloat).toSeq
      e.encode(text).toSeq == expect
    })
  }

  test("lsh probe sets: size = Σ C(nBits, r), all within radius, contains the origin") {
    val gen = for {
      nBits <- Gen.choose(2, 12)
      radius <- Gen.choose(0, 3)
      bucket <- Gen.choose(0L, (1L << nBits) - 1)
    } yield (nBits, radius, bucket)
    def choose(n: Int, k: Int): Long =
      if (k == 0) 1L else choose(n, k - 1) * (n - k + 1) / k
    check("probeBuckets", Prop.forAll(gen) { case (nBits, radius, bucket) =>
      val probes = Ann.probeBuckets(bucket, nBits, radius)
      val expectSize = (0 to radius).map(r => choose(nBits, r)).sum
      probes.contains(bucket) &&
        probes.distinct.length == probes.length &&
        probes.length == expectSize &&
        probes.forall(p => java.lang.Long.bitCount(p ^ bucket) <= radius)
    })
  }

  test("ivf probes: exactly nprobe distinct centroid ids, closest-first") {
    val vecGen = Gen.listOfN(8, Gen.choose(-5.0f, 5.0f)).map(_.toArray)
    val gen = for {
      q <- vecGen
      cents <- Gen.listOfN(6, vecGen).map(_.toArray)
      nprobe <- Gen.choose(1, 6)
    } yield (q, cents, nprobe)
    def l2(a: Array[Float], b: Array[Float]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum)
    check("probeIds", Prop.forAll(gen) { case (q, cents, nprobe) =>
      val probes = Ann.probeIds(q, cents, nprobe)
      val dists = probes.map(i => l2(q, cents(i)))
      val all = cents.indices.map(i => l2(q, cents(i))).sorted
      probes.length == nprobe &&
        probes.distinct.length == nprobe &&
        dists == dists.sorted &&
        math.abs(dists.last - all(nprobe - 1)) < 1e-12
    })
  }

  test("centroid aggregator: reduce-then-merge equals the direct mean, any split") {
    val dim = 4
    val vecGen = Gen.listOfN(dim, Gen.choose(-10.0f, 10.0f)).map(_.toSeq)
    val gen = for {
      vs <- Gen.nonEmptyListOf(vecGen)
      split <- Gen.choose(0, vs.length)
    } yield (vs, split)
    check("centroid", Prop.forAll(gen) { case (vs, split) =>
      val agg = new CentroidAggregator(dim)
      val (l, r) = vs.splitAt(split)
      val bufL = l.foldLeft(agg.zero)(agg.reduce)
      val bufR = r.foldLeft(CentroidBuffer(new Array[Double](dim), 0L))(agg.reduce)
      val got = agg.finish(agg.merge(bufL, bufR))
      val expect = (0 until dim).map(i => (vs.map(_(i).toDouble).sum / vs.length).toFloat)
      got.lazyZip(expect).forall((a, b) => math.abs(a - b) < 1e-4)
    })
  }

  test("duplicate-window interval union: sorted-lag sum equals brute-force coverage") {
    // the arithmetic core of Dedup.duplicateWindowSpans: for sorted
    // duplicated start positions, Σ (first → w, else min(gap, w))
    // must equal |∪ [p, p+w)| exactly — overlapping, touching, and
    // disjoint spans alike
    val gen = for {
      w <- Gen.choose(1, 12)
      ps <- Gen.listOf(Gen.choose(0, 200)).map(_.distinct.sorted)
    } yield (w, ps)
    check("intervalUnion", Prop.forAll(gen) { case (w, ps) =>
      val lagSum = ps.headOption.map(_ => w).getOrElse(0) +
        ps.lazyZip(ps.drop(1)).map((prev, p) => math.min(p - prev, w)).sum
      val brute = ps.flatMap(p => p until p + w).distinct.size
      lagSum == brute
    }, n = 200)
  }

  private val nodesGen: Gen[Array[(Long, Array[Float])]] = for {
    n <- Gen.choose(1, 60)
    seed <- Gen.choose(0L, 1000L)
  } yield {
    val rnd = new scala.util.Random(seed)
    Array.tabulate(n)(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
  }

  test("nsw graph: for ANY corpus — degree-capped, no self-loops/dups, connected, deterministic") {
    val flat = Nsw.Params(nShards = 1, m = 4, efConstruction = 12, efSearch = 12)
    Seq(flat, flat.copy(maxLevel = Nsw.HnswMaxLevel)).foreach { p =>
      check(s"nswBuild cap ${p.maxLevel}", Prop.forAll(nodesGen) { nodes =>
        val layers = Nsw.buildShardGraph(nodes, p)
        val sane = layers.forall { case (id, ls) =>
          ls.length == Nsw.hnswLevel(id, p.m, p.maxLevel) + 1 &&
            ls.zipWithIndex.forall { case (nbrs, l) =>
              nbrs.length <= (if (l == 0) p.maxDegree else p.m) &&
                !nbrs.contains(id) && nbrs.distinct.length == nbrs.length &&
                nbrs.forall(nb => layers.get(nb).exists(_.length > l))
            }
        }
        // layer-0 connectivity from the entry (highest level, then
        // smallest id) — the search contract
        val entry = layers.keys.minBy(id => (-layers(id).length, id))
        val seen = scala.collection.mutable.Set(entry)
        val stack = scala.collection.mutable.Stack(entry)
        while (stack.nonEmpty)
          layers(stack.pop())(0).foreach(x => if (seen.add(x)) stack.push(x))
        sane && seen.size == layers.size &&
          layers.view.mapValues(_.map(_.toSeq).toSeq).toMap ==
            Nsw.buildShardGraph(nodes, p).view.mapValues(_.map(_.toSeq).toSeq).toMap
      }, n = 60)
    }
  }

  test("nsw selectNeighbors: <= m unique candidates, closest always kept, subset of input") {
    val p = 8
    val gen = for {
      seed <- Gen.choose(0L, 5000L)
      k <- Gen.choose(0, 30)
      m <- Gen.choose(1, 6)
    } yield (seed, k, m)
    check("nswSelect", Prop.forAll(gen) { case (seed, k, m) =>
      val rnd = new scala.util.Random(seed)
      val vecs = (0 until k).map(i =>
        i.toLong -> Array.fill(p)(rnd.nextGaussian().toFloat)).toMap
      val base = Array.fill(p)(rnd.nextGaussian().toFloat)
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
        if (na == 0 || nb == 0) 1.0 else 1.0 - d / math.sqrt(na * nb)
      }
      val cands = vecs.toSeq.map { case (id, v) => (cos(base, v), id) }
      val kept = Nsw.selectNeighbors(cands, m, vecs)
      kept.length <= m && kept.distinct.length == kept.length &&
        kept.forall(vecs.contains) &&
        // the single closest candidate survives every diversity cut
        (cands.isEmpty || kept.contains(cands.min._2))
    }, n = 100)
  }
}
