package graft

import graft.operators.{Ann, Knn}
import graft.queries.QueryVectors
import org.apache.spark.sql.functions._

/** IVF ANN tests: assignment invariants, probe monotonicity, and the
  * recall-vs-exact contract (SURVEY §5.3: exact-KNN ⊇ check — recall
  * measured, = 1.0 when probing everything).
  */
class AnnSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf("sf0.001")).cache()
  private val q = QueryVectors.queryVec64

  test("seeded centroids are the vectors of the smallest ids") {
    val cents = Ann.seededCentroids(emb, "embedding", "vec_id", nlist = 4)
    assert(cents.length == 4 && cents.forall(_.length == 64))
    val first = emb.orderBy("vec_id").select("embedding").collect()(0).getSeq[Float](0)
    assert(cents(0).toSeq == first)
  }

  test("every row is assigned a cluster id in [0, nlist)") {
    val cents = Ann.seededCentroids(emb, "embedding", "vec_id", nlist = 8)
    val ids = Ann.assignClusters(emb, "embedding", cents)
      .select("cluster_id").distinct().collect().map(_.getInt(0)).toSet
    assert(ids.subsetOf((0 until 8).toSet) && ids.nonEmpty)
  }

  test("assignment is the true argmin (spot-check against driver compute)") {
    val cents = Ann.seededCentroids(emb, "embedding", "vec_id", nlist = 8)
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i); acc += d * d; i += 1 }
      math.sqrt(acc)
    }
    val sample = Ann.assignClusters(emb, "embedding", cents)
      .select("embedding", "cluster_id").limit(25).collect()
    sample.foreach { r =>
      val v = r.getSeq[Float](0).toArray
      val want = cents.zipWithIndex.map { case (c, i) => (l2(v, c), i) }.min._2
      assert(r.getInt(1) == want)
    }
  }

  test("probing all lists reproduces exact KNN (recall = 1.0)") {
    val cents = Ann.seededCentroids(emb, "embedding", "vec_id", nlist = 8)
    val indexed = Ann.assignClusters(emb, "embedding", cents)
    val ann = Ann.search(indexed, "embedding", "vec_id", q, k = 10, cents, nprobe = 8)
    val exact = Knn.search(emb, "embedding", "vec_id", q, k = 10)
    assert(Ann.recallAtK(ann, exact, "vec_id") == 1.0)
  }

  test("recall is monotone in nprobe and reported honestly") {
    val cents = Ann.seededCentroids(emb, "embedding", "vec_id", nlist = 8)
    val indexed = Ann.assignClusters(emb, "embedding", cents).cache()
    val exact = Knn.search(emb, "embedding", "vec_id", q, k = 10)
    val recalls = Seq(1, 3, 8).map { np =>
      Ann.recallAtK(
        Ann.search(indexed, "embedding", "vec_id", q, k = 10, cents, np),
        exact, "vec_id")
    }
    assert(recalls == recalls.sorted, s"recall not monotone: $recalls")
    assert(recalls.last == 1.0)
    indexed.unpersist()
  }

  test("kmeans centroids: correct shape, deterministic seed, working assignment") {
    val c1 = Ann.kmeansCentroids(emb, "embedding", nlist = 4, seed = 42L)
    val c2 = Ann.kmeansCentroids(emb, "embedding", nlist = 4, seed = 42L)
    assert(c1.length == 4 && c1.forall(_.length == 64))
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq, "kmeans not deterministic under fixed seed")
    val assigned = Ann.assignClusters(emb, "embedding", c1)
    assert(assigned.select("cluster_id").distinct().count() > 1)
  }

  test("CentroidAggregator (single-pass) agrees with the explode-based centroid query") {
    import spark.implicits._
    val agg = new graft.functions.CentroidAggregator(dim = 64)
    val fast = emb.select(col("label"), col("embedding"))
      .as[(Int, Seq[Float])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn.name("centroid"))
      .collect().toMap
    // reference: driver-side exact means
    val rows = emb.select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    val expect = rows.groupBy(_._1).map { case (l, vs) =>
      val dim = vs.head._2.length
      l -> (0 until dim).map(i => (vs.map(_._2(i).toDouble).sum / vs.length).toFloat)
    }
    fast.foreach { case (l, c) =>
      c.lazyZip(expect(l)).foreach { (a, b) =>
        assert(math.abs(a - b) < 1e-4, s"label $l centroid mismatch: $a vs $b")
      }
    }
    assert(fast.keySet == expect.keySet)
  }

  test("lsh buckets: deterministic, query bucket matches column computation") {
    val planes = Ann.hyperplanes(dim = 64, nBits = 12, seed = 42L)
    val bucketed = Ann.assignLshBuckets(emb, "embedding", planes)
    val row = bucketed.orderBy("vec_id").select("embedding", "lsh_bucket").collect()(0)
    val driverBucket = Ann.queryBucket(row.getSeq[Float](0).toArray, planes)
    assert(row.getLong(1) == driverBucket)
    assert(bucketed.select("lsh_bucket").distinct().count() > 1)
  }

  test("lsh multi-probe: radius grows the probe set; recall monotone in radius") {
    val planes = Ann.hyperplanes(dim = 64, nBits = 10, seed = 7L)
    assert(Ann.probeBuckets(0L, 10, 0) == Seq(0L))
    assert(Ann.probeBuckets(0L, 10, 1).length == 11)
    assert(Ann.probeBuckets(0L, 10, 2).length == 1 + 10 + 45)
    val bucketed = Ann.assignLshBuckets(emb, "embedding", planes).cache()
    val exact = Knn.search(emb, "embedding", "vec_id", q, k = 10)
    val recalls = Seq(0, 2, 4).map { r =>
      Ann.recallAtK(
        Ann.lshSearch(bucketed, "embedding", "vec_id", q, k = 10, planes, radius = r),
        exact, "vec_id")
    }
    assert(recalls == recalls.sorted, s"recall not monotone: $recalls")
    bucketed.unpersist()
  }

  test("kmeans IVF: recall-vs-nprobe curve beats the probed fraction ~3× (sf0.01)") {
    // Fixture reality check (measured offline): the synthetic embeddings
    // are near-uniform for NN purposes — a corpus member's top-10
    // neighbors share its label only ~10-30% of the time, so no centroid
    // quality yields recall@10 ≥ 0.9 while probing ≤ nlist/4 of the lists
    // (that regime needs locally-clustered data). The spec therefore
    // asserts what IVF CAN promise on any corpus: recall grows
    // monotonically, substantially beats the probed fraction (the index
    // is informative — random probing would give recall ≈ fraction),
    // reaches ≥ 0.9 at half the lists on this fixture, and is exact at
    // full probe. Curve documented in PLANS.md.
    val emb01 = Tables.embeddings(spark, sf("sf0.01")).cache()
    val nlist = 16
    val cents = Ann.kmeansCentroids(emb01, "embedding", nlist = nlist, seed = 42L, maxIter = 20)
    val indexed = Ann.assignClusters(emb01, "embedding", cents).cache()
    // realistic query workload: corpus members (a served query distribution
    // concentrates where the data is) + the out-of-corpus flagship vector
    val corpusQs = emb01.filter(col("vec_id").isin(10, 110, 210, 310, 410))
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val qs = corpusQs :+ q
    val exactByQ = qs.map(qv => Knn.search(emb01, "embedding", "vec_id", qv, k = 10))
    val curve = Seq(1, 2, 4, 8, nlist).map { np =>
      val rs = qs.lazyZip(exactByQ).map { (qv, exact) =>
        Ann.recallAtK(
          Ann.search(indexed, "embedding", "vec_id", qv, k = 10, cents, np),
          exact, "vec_id")
      }
      np -> rs.sum / rs.size
    }
    info(s"kmeans recall@10 vs nprobe (nlist=$nlist): $curve")
    val meanRecalls = curve.map(_._2)
    assert(meanRecalls == meanRecalls.sorted, s"recall not monotone in nprobe: $curve")
    curve.filter(_._1 <= nlist / 2).foreach { case (np, r) =>
      val fraction = np.toDouble / nlist
      assert(r >= 1.5 * fraction,
        s"recall $r at nprobe=$np barely beats random probing ($fraction) — index uninformative")
    }
    val atHalf = curve.find(_._1 == nlist / 2).get._2
    assert(atHalf >= 0.9, s"mean recall@10 at nprobe=${nlist / 2}/$nlist = $atHalf < 0.9")
    assert(curve.last._2 == 1.0, "probing every list must reproduce exact KNN")
    indexed.unpersist(); emb01.unpersist()
  }

  test("kmeans IVF, clustered corpus: recall@10 ≥ 0.9 probing ≤ nlist/4 (production regime; RECALL.md)") {
    // The fixture embeddings are near-uniform (worst case — see the
    // sf0.01 curve test above); THIS is the regime IVF exists for:
    // locally-clustered corpora where a query's true neighbors share
    // its cluster. RECALL.md records the full measured curve; this
    // spec pins the production tuning target per-commit.
    val nlist = 16
    val corpus = RecallDump.clusteredCorpus(spark, n = 800, dim = 64,
      nClusters = 32, sigma = 0.15, seed = 7L).cache()
    val cents = Ann.kmeansCentroids(corpus, "embedding", nlist, seed = 42L, maxIter = 20)
    val indexed = Ann.assignClusters(corpus, "embedding", cents).cache()
    val qs = corpus.filter(col("vec_id") % 160 === 10)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    assert(qs.length >= 5, s"workload too small: ${qs.length}")
    val np = nlist / 4
    val recalls = qs.map { qv =>
      Ann.recallAtK(
        Ann.search(indexed, "embedding", "vec_id", qv, k = 10, cents, np),
        Knn.search(corpus, "embedding", "vec_id", qv, k = 10), "vec_id")
    }
    val mean = recalls.sum / recalls.length
    info(s"clustered-corpus mean recall@10 at nprobe=$np/$nlist: $mean")
    assert(mean >= 0.9,
      s"recall@10 $mean < 0.9 at nprobe=$np/$nlist on the clustered corpus")
    indexed.unpersist(); corpus.unpersist()
  }

  test("md5 sign planes: deterministic ±1, recall monotone in radius (parity with gaussian planes)") {
    val planes = Ann.signPlanes(dim = 64, nBits = 10)
    assert(planes.length == 10 && planes.forall(_.length == 64))
    assert(planes.flatten.forall(v => v == 1.0f || v == -1.0f))
    assert(planes.map(_.toSeq).toSeq == Ann.signPlanes(64, 10).map(_.toSeq).toSeq)
    val bucketed = Ann.assignLshBuckets(emb, "embedding", planes).cache()
    val exact = Knn.search(emb, "embedding", "vec_id", q, k = 10)
    val recalls = Seq(0, 2, 4).map { r =>
      Ann.recallAtK(
        Ann.lshSearch(bucketed, "embedding", "vec_id", q, k = 10, planes, radius = r),
        exact, "vec_id")
    }
    assert(recalls == recalls.sorted, s"recall not monotone: $recalls")
    bucketed.unpersist()
  }

  test("ivf search reads only the probed fraction (filter above the scan)") {
    val cents = Ann.seededCentroids(emb, "embedding", "vec_id", nlist = 8)
    val indexed = Ann.assignClusters(emb, "embedding", cents)
    val probes = Ann.probeIds(q, cents, nprobe = 3)
    val scanned = indexed.filter(col("cluster_id").isin(probes: _*)).count()
    assert(scanned < emb.count(), "probe filter should restrict the scanned set")
  }

  test("incremental append: existing index files untouched; combined store ≡ full rebuild") {
    val cents = Ann.seededCentroids(emb, "embedding", "vec_id", nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf_append").toString
    Ann.writeIndexed(emb.filter(col("vec_id") % 5 =!= 0), "embedding", cents, dir)
    def dataFiles = {
      val b = java.nio.file.Paths.get(dir)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(b).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p))
        .toMap
    }
    val before = dataFiles
    Ann.assignClusters(emb.filter(col("vec_id") % 5 === 0), "embedding", cents)
      .write.mode("append").partitionBy("cluster_id").parquet(dir)
    val after = dataFiles
    // refresh cost is O(|batch|): every pre-existing file survives
    // byte-identical (same path, same mtime) — append only adds files
    before.foreach { case (p, t) =>
      assert(after.contains(p) && after(p) == t, s"append rewrote $p")
    }
    assert(after.size > before.size, "append must add files")
    // and the combined store is exactly the full-rebuild assignment
    val got = spark.read.parquet(dir).select("vec_id", "cluster_id")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = Ann.assignClusters(emb, "embedding", cents)
      .select("vec_id", "cluster_id")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == want, "incremental append diverged from full rebuild")
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("lshRecallEval: self always found, full radius gives recall 1.0, map-side group limit") {
    val planes = Ann.signPlanes(dim = 64, nBits = 8)
    val queries = emb.filter(col("vec_id") < 5)
    val r1 = Ann.lshRecallEval(emb, "embedding", "vec_id", queries,
      "vec_id", "embedding", planes, k = 10, radius = 1)
    val rows = r1.collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getLong(1) == 10, "exact top-10 must always fill")
      assert(r.getLong(3) >= 1, "a corpus-point query must at least find itself")
      val recall = r.getDouble(4)
      assert(recall >= 0.1 && recall <= 1.0, s"recall out of range: $recall")
    }
    // radius = nBits probes every bucket -> ANN degenerates to exact
    val rFull = Ann.lshRecallEval(emb, "embedding", "vec_id", queries,
      "vec_id", "embedding", planes, k = 10, radius = 8)
    assert(rFull.collect().forall(_.getDouble(4) == 1.0),
      "probing every bucket must reproduce exact KNN")
    // the ranking must be map-side limited (WindowGroupLimit), so the
    // qid shuffle carries <= k rows per (query, map task), never the corpus
    val plan = r1.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"row_number <= k ranking must plan a WindowGroupLimit:\n$plan")
  }
}
