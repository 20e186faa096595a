package graft

import graft.operators.{Ann, IvfPq, Knn, Pq}
import graft.queries.QueryVectors
import org.apache.spark.sql.functions._

/** Dumps RECALL.md — the recall-vs-nprobe curve of the PERSISTED KMeans
  * IVF index (the number a production user tunes nprobe against), next
  * to PLANS.md. AnnSpec asserts the curve's invariants per-commit on
  * the small fixture; this artifact records the measured operating
  * points at the benchmark SF over the real partitioned read path
  * (probe filter = static partition pruning).
  *
  * Usage: RecallDump <sfDir> [out.md]
  *
  * The session takes one core per available processor, and the
  * clustered-corpus IVF, PQ and IVF-PQ tables depend on that count.
  * RECALL.md's tables come from a 32-processor JVM; on a smaller host,
  * run with `JAVA_TOOL_OPTIONS=-XX:ActiveProcessorCount=32` to
  * reproduce them byte for byte. RecallDump does not write the
  * hand-written "Serving latency calibration" section; carry it over.
  */
object RecallDump {

  /** Bound on every query-workload collect in this file: the sweep
    * measures a SAMPLE of queries, and the sample size is a contract of
    * the telemetry (not a function of corpus size) — `.limit(MaxQueries)`
    * keeps each collect ≤ MaxQueries rows at ANY SF, the same
    * bounded-collect discipline the gated queries follow (probe lists,
    * candidate sets). At the artifact SF (sf0.1: 500 sampled vectors)
    * the cap is not binding, so the published tables are unchanged.
    */
  private val MaxQueries = 512

  case class Point(nprobe: Int, fraction: Double, meanRecall: Double,
                   minRecall: Double, scannedFraction: Double)

  /** The curve over the persisted index at `sfDir`. Query workload =
    * every 100th corpus vector (a served distribution concentrates
    * where the data is) + the out-of-corpus flagship query.
    */
  def curve(spark: org.apache.spark.sql.SparkSession, sfDir: String,
            nlist: Int, k: Int): Seq[Point] = {
    val emb = Tables.embeddings(spark, sfDir).cache()
    val cents = Ann.kmeansCentroids(emb, "embedding", nlist, seed = 42L, maxIter = 20)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_recall_kidx_" +
      s"${ProcessHandle.current().pid()}_${math.abs(sfDir.hashCode)}"
    Ann.writeIndexed(emb, "embedding", cents, path)
    val indexed = Ann.readIndexed(spark, path)
    val corpusQs = emb.filter(col("vec_id") % 100 === 10)
      .orderBy("vec_id").limit(MaxQueries).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val points = curveOver(emb, indexed, cents, corpusQs :+ QueryVectors.queryVec64, nlist, k)
    emb.unpersist()
    points
  }

  /** The clustered-regime curve: persisted KMeans index over a
    * deterministic mixture-of-Gaussians corpus. This is the regime the
    * production ≥0.9-recall-at-nlist/4 tuning target refers to
    * (AnnSpec asserts it per-commit).
    */
  def clusteredCurve(spark: org.apache.spark.sql.SparkSession,
                     nlist: Int, k: Int): Seq[Point] = {
    val emb = clusteredCorpus(spark, n = 2000, dim = 64, nClusters = 32,
      sigma = 0.15, seed = 7L).cache()
    val cents = Ann.kmeansCentroids(emb, "embedding", nlist, seed = 42L, maxIter = 20)
    val indexed = Ann.assignClusters(emb, "embedding", cents).cache()
    val qs = emb.filter(col("vec_id") % 100 === 10)
      .orderBy("vec_id").limit(MaxQueries).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val points = curveOver(emb, indexed, cents, qs, nlist, k)
    indexed.unpersist(); emb.unpersist()
    points
  }

  /** Deterministic mixture-of-Gaussians corpus (the data regime IVF is
    * FOR — real embedding corpora are locally clustered): `nClusters`
    * unit-ish centers, per-cluster sigma small enough that a query's
    * true neighbors share its cluster. Returns (vec_id, embedding).
    */
  def clusteredCorpus(spark: org.apache.spark.sql.SparkSession,
                      n: Int, dim: Int, nClusters: Int,
                      sigma: Double, seed: Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val rows = (0 until n).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, c.map(v => v + (rnd.nextGaussian() * sigma).toFloat).toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  /** Curve over an in-memory (already assigned) index — shared by the
    * fixture path and the clustered-corpus path.
    */
  def curveOver(emb: org.apache.spark.sql.DataFrame,
                indexed: org.apache.spark.sql.DataFrame,
                cents: Array[Array[Float]],
                qs: Array[Array[Float]], nlist: Int, k: Int): Seq[Point] = {
    val n = emb.count()
    val exactByQ = qs.map(qv => Knn.search(emb, "embedding", "vec_id", qv, k))
    val listSizes = indexed.groupBy("cluster_id").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val probeSteps = Seq(1, 2, 3, 4, 6, 8, 12, nlist).distinct.filter(_ <= nlist)
    probeSteps.map { np =>
      var scanned = 0L
      val rs = qs.toSeq.lazyZip(exactByQ).map { (qv, exact) =>
        scanned += Ann.probeIds(qv, cents, np).map(listSizes.getOrElse(_, 0L)).sum
        Ann.recallAtK(
          Ann.search(indexed, "embedding", "vec_id", qv, k, cents, np),
          exact, "vec_id")
      }
      Point(np, np.toDouble / nlist, rs.sum / rs.size, rs.min,
        scanned.toDouble / (n * qs.length))
    }
  }


  /** The LSH radius sweep over the persisted bucket-partitioned store:
    * the LSH analog of the nprobe curve (radius = hamming flips
    * allowed; |probe set| = Σ C(nBits, r)). The rewrite path
    * (LshCatalog + IvfProbeRule) serves radius-1 by default.
    */
  case class LshPoint(radius: Int, buckets: Int, meanRecall: Double,
                      minRecall: Double, scannedFraction: Double)

  def lshCurve(spark: org.apache.spark.sql.SparkSession, sfDir: String,
               nBits: Int, k: Int): Seq[LshPoint] = {
    val emb = Tables.embeddings(spark, sfDir).cache()
    val planes = Ann.signPlanes(dim = 64, nBits = nBits)
    val bucketed = Ann.assignLshBuckets(emb, "embedding", planes).cache()
    val n = emb.count()
    val sizes = bucketed.groupBy("lsh_bucket").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qs = emb.filter(col("vec_id") % 100 === 10)
      .orderBy("vec_id").limit(MaxQueries).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray) :+ QueryVectors.queryVec64
    val exactByQ = qs.map(qv => Knn.search(emb, "embedding", "vec_id", qv, k))
    val pts = Seq(0, 1, 2).map { r =>
      var scanned = 0L
      val rs = qs.toSeq.lazyZip(exactByQ).map { (qv, exact) =>
        val probes = Ann.probeBuckets(Ann.queryBucket(qv, planes), nBits, r)
        scanned += probes.map(sizes.getOrElse(_, 0L)).sum
        Ann.recallAtK(
          Ann.lshSearch(bucketed, "embedding", "vec_id", qv, k, planes, radius = r),
          exact, "vec_id")
      }
      LshPoint(r, Ann.probeBuckets(0L, nBits, r).length,
        rs.sum / rs.size, rs.min, scanned.toDouble / (n * qs.length))
    }
    bucketed.unpersist(); emb.unpersist()
    pts
  }

  /** PQ shortlist sweep: recall@k of ADC-shortlist → exact-rescore as a
    * function of the shortlist size (the PQ tuning knob, like nprobe
    * for IVF). shortlist=k is pure-ADC set recall (rescoring a k-set
    * re-orders but cannot change it).
    */
  case class PqPoint(shortlist: Int, meanRecall: Double, minRecall: Double)

  def pqCurve(spark: org.apache.spark.sql.SparkSession, sfDir: String,
              k: Int): Seq[PqPoint] = {
    val emb = Tables.embeddings(spark, sfDir).cache()
    val cb = graft.operators.Pq.fitCodebooks(emb, "embedding", dim = 64, m = 8, ksub = 16)
    val enc = graft.operators.Pq.encode(emb, "embedding", cb).cache()
    val qs = emb.filter(col("vec_id") % 100 === 10)
      .orderBy("vec_id").limit(MaxQueries).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray) :+ QueryVectors.queryVec64
    val pts = sweep(emb, enc, cb, qs, k)
    enc.unpersist(); emb.unpersist()
    pts
  }

  /** PQ sweep over the clustered mixture-of-Gaussians corpus — the
    * regime real embedding stores live in (same corpus as
    * [[clusteredCurve]]).
    */
  def pqClusteredCurve(spark: org.apache.spark.sql.SparkSession,
                       k: Int): Seq[PqPoint] = {
    val emb = clusteredCorpus(spark, n = 2000, dim = 64, nClusters = 32,
      sigma = 0.15, seed = 7L).cache()
    val cb = graft.operators.Pq.fitCodebooks(emb, "embedding", dim = 64, m = 8, ksub = 16)
    val enc = graft.operators.Pq.encode(emb, "embedding", cb).cache()
    val qs = emb.filter(col("vec_id") % 100 === 10)
      .orderBy("vec_id").limit(MaxQueries).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val pts = sweep(emb, enc, cb, qs, k)
    enc.unpersist(); emb.unpersist()
    pts
  }

  /** One [[Pq.batchSearch]] per shortlist point over all of `qs`
    * (query i of the batch is `qs(i)`), each query's top k scored
    * against its exact top k.
    */
  private def sweep(emb: org.apache.spark.sql.DataFrame,
                    enc: org.apache.spark.sql.DataFrame,
                    cb: Array[Array[Array[Float]]],
                    qs: Array[Array[Float]], k: Int): Seq[PqPoint] = {
    val exactByQ = qs.map(qv => Knn.search(emb, "embedding", "vec_id", qv, k))
    Seq(k, 2 * k, 5 * k, 10 * k).map { sl =>
      val (res, _) = Pq.batchSearch(enc, enc, "embedding", "vec_id",
        qs.indices.map(i => i -> qs(i)), cb, k, sl)
      val rs = qs.indices.map(i =>
        Ann.recallAtK(res.filter(col("query_id") === i), exactByQ(i), "vec_id"))
      PqPoint(sl, rs.sum / rs.size, rs.min)
    }
  }

  /** IVF-PQ composed sweep: recall@k of probe → residual-ADC shortlist
    * (fixed 5·k) → exact rescore, as a function of nprobe — the
    * composed store's primary knob. Clustered corpus, the regime the
    * layout is for.
    */
  case class IvfPqPoint(nprobe: Int, scannedFraction: Double,
                        meanRecall: Double, minRecall: Double)

  def ivfPqClusteredCurve(spark: org.apache.spark.sql.SparkSession,
                          k: Int): Seq[IvfPqPoint] = {
    val emb = clusteredCorpus(spark, n = 2000, dim = 64, nClusters = 32,
      sigma = 0.15, seed = 7L).cache()
    val nlist = 16
    val cents = Ann.seededCentroids(emb, "embedding", "vec_id", nlist)
    val books = IvfPq.fitResidualCodebooks(emb, "embedding", cents, 64, 8, 16)
    val indexed = Ann.assignClusters(emb, "embedding", cents).cache()
    val enc = Pq.encode(IvfPq.withResidual(indexed, "embedding", cents),
        "residual", books)
      .select(col("vec_id"), col("cluster_id"), col("pq_codes")).cache()
    val listSizes = indexed.groupBy("cluster_id").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = emb.count()
    val qs = emb.filter(col("vec_id") % 100 === 10)
      .orderBy("vec_id").limit(MaxQueries).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val exactByQ = qs.map(qv => Knn.search(emb, "embedding", "vec_id", qv, k))
    val pts = Seq(1, 2, 4, 8, nlist).map { np =>
      var scanned = 0L
      val rs = qs.toSeq.lazyZip(exactByQ).map { (qv, exact) =>
        scanned += Ann.probeIds(qv, cents, np).map(listSizes.getOrElse(_, 0L)).sum
        val shortlist = IvfPq.search(enc, "vec_id", qv, cents, books, np, k = 5 * k)
          .select("vec_id")
        Ann.recallAtK(
          Knn.search(shortlist.join(emb, "vec_id"), "embedding", "vec_id", qv, k),
          exact, "vec_id")
      }
      IvfPqPoint(np, scanned.toDouble / (n * qs.length), rs.sum / rs.size, rs.min)
    }
    enc.unpersist(); indexed.unpersist(); emb.unpersist()
    pts
  }

  /** A graph batch search's total candidate count and per-query
    * recall@k, query i of the batch against `exactByQ(i)`.
    */
  private def batchRecall(res: org.apache.spark.sql.DataFrame, byQ: Map[Int, Seq[Long]],
                          exactByQ: Array[org.apache.spark.sql.DataFrame]): (Long, Seq[Double]) =
    (byQ.values.map(_.length.toLong).sum,
      exactByQ.indices.map(i =>
        Ann.recallAtK(res.filter(col("query_id") === i), exactByQ(i), "vec_id")))

  /** NSW beam-width sweep: recall@k vs efSearch on the sharded
    * small-world graph (ann_nsw_beam's read path). The candidate
    * fraction is the emitted-row cost (≤ nShards·ef of n); the walk
    * itself touches O(ef·log n) nodes per shard.
    */
  case class NswPoint(ef: Int, candFraction: Double, meanRecall: Double,
                      minRecall: Double)

  def nswCurve(spark: org.apache.spark.sql.SparkSession,
               corpus: org.apache.spark.sql.DataFrame, k: Int,
               includeFlagship: Boolean, layered: Boolean = false): Seq[NswPoint] = {
    val emb = corpus.cache()
    val base = graft.operators.Nsw.Params(nShards = 4, m = 8,
      efConstruction = 32, efSearch = 32,
      maxLevel = if (layered) graft.operators.Nsw.HnswMaxLevel else 0)
    val graph = graft.operators.Nsw
      .buildGraph(emb, "embedding", "vec_id", base).cache()
    graph.count()
    val n = emb.count()
    val qs0 = emb.filter(col("vec_id") % 100 === 10)
      .orderBy("vec_id").limit(MaxQueries).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val qs = if (includeFlagship) qs0 :+ QueryVectors.queryVec64 else qs0
    val exactByQ = qs.map(qv => Knn.search(emb, "embedding", "vec_id", qv, k))
    // one held exchange per curve, one batch search per beam width
    val opened = graft.operators.Nsw.openGraph(graph, base.nShards)
    val batch = qs.toSeq.zipWithIndex.map { case (qv, i) => i -> qv }
    val pts = Seq(8, 16, 32, 64).map { ef =>
      val (res, byQ) = graft.operators.Nsw.batchSearch(opened, "vec_id", batch, k,
        base.copy(efSearch = ef))
      val (cand, rs) = batchRecall(res, byQ, exactByQ)
      NswPoint(ef, cand.toDouble / (n * qs.length), rs.sum / rs.size, rs.min)
    }
    graph.unpersist(); emb.unpersist()
    pts
  }

  /** Routed-HNSW fan-out sweep: recall@k vs nprobe (shards beamed) on
    * the shard-routed read path (ann_hnsw_routed). The router's cost is
    * the fan-out — nprobe beams instead of nShards — so this table IS
    * the recall/fan-out trade the router buys corpus-size-independent
    * queries with. nprobe = nShards reproduces the full fan exactly.
    */
  case class RoutedPoint(nprobe: Int, candFraction: Double,
                         meanRecall: Double, minRecall: Double)

  def routedCurve(spark: org.apache.spark.sql.SparkSession,
                  corpus: org.apache.spark.sql.DataFrame, k: Int,
                  includeFlagship: Boolean): Seq[RoutedPoint] = {
    val emb = corpus.cache()
    val p = graft.operators.Nsw.Params(nShards = 4, m = 8,
      efConstruction = 32, efSearch = 32,
      maxLevel = graft.operators.Nsw.HnswMaxLevel)
    val graph = graft.operators.Nsw
      .buildGraph(emb, "embedding", "vec_id", p).cache()
    graph.count()
    // bounded: nShards·dim rows — the router's whole driver footprint
    val cents = graft.operators.Nsw.shardCentroids(graph)
    val n = emb.count()
    val qs0 = emb.filter(col("vec_id") % 100 === 10)
      .orderBy("vec_id").limit(MaxQueries).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val qs = if (includeFlagship) qs0 :+ QueryVectors.queryVec64 else qs0
    val exactByQ = qs.map(qv => Knn.search(emb, "embedding", "vec_id", qv, k))
    // one held exchange per curve, one routed batch search per nprobe
    val opened = graft.operators.Nsw.openGraph(graph, p.nShards)
    val batch = qs.toSeq.zipWithIndex.map { case (qv, i) => i -> qv }
    val pts = (1 to p.nShards).map { np =>
      val (res, byQ, _) = graft.operators.Nsw.routedBatchSearch(opened, "vec_id",
        batch, k, cents, np, p)
      val (cand, rs) = batchRecall(res, byQ, exactByQ)
      RoutedPoint(np, cand.toDouble / (n * qs.length), rs.sum / rs.size, rs.min)
    }
    graph.unpersist(); emb.unpersist()
    pts
  }

  private def routedTable(pts: Seq[RoutedPoint]): String = {
    val sb = new StringBuilder
    sb ++= "| nprobe (beams) | candidates re-ranked | mean recall@10 | min recall@10 |\n"
    sb ++= "|---|---|---|---|\n"
    pts.foreach { p =>
      sb ++= f"| ${p.nprobe} | ${p.candFraction * 100}%.1f%% | ${p.meanRecall}%.3f | ${p.minRecall}%.3f |\n"
    }
    sb.toString
  }

  private def nswTable(pts: Seq[NswPoint]): String = {
    val sb = new StringBuilder
    sb ++= "| efSearch | candidates re-ranked | mean recall@10 | min recall@10 |\n"
    sb ++= "|---|---|---|---|\n"
    pts.foreach { p =>
      sb ++= f"| ${p.ef} | ${p.candFraction * 100}%.1f%% | ${p.meanRecall}%.3f | ${p.minRecall}%.3f |\n"
    }
    sb.toString
  }

  private def ivfPqTable(pts: Seq[IvfPqPoint]): String = {
    val sb = new StringBuilder
    sb ++= "| nprobe | corpus scanned | mean recall@10 | min recall@10 |\n"
    sb ++= "|---|---|---|---|\n"
    pts.foreach { p =>
      sb ++= f"| ${p.nprobe} | ${p.scannedFraction * 100}%.1f%% | ${p.meanRecall}%.3f | ${p.minRecall}%.3f |\n"
    }
    sb.toString
  }

  private def pqTable(pts: Seq[PqPoint]): String = {
    val sb = new StringBuilder
    sb ++= "| shortlist | mean recall@10 | min recall@10 |\n"
    sb ++= "|---|---|---|\n"
    pts.foreach { p =>
      sb ++= f"| ${p.shortlist} | ${p.meanRecall}%.3f | ${p.minRecall}%.3f |\n"
    }
    sb.toString
  }

  private def lshTable(pts: Seq[LshPoint]): String = {
    val sb = new StringBuilder
    sb ++= "| radius | buckets probed | corpus scanned | mean recall@10 | min recall@10 |\n"
    sb ++= "|---|---|---|---|---|\n"
    pts.foreach { p =>
      sb ++= f"| ${p.radius} | ${p.buckets} | ${p.scannedFraction * 100}%.1f%% | ${p.meanRecall}%.3f | ${p.minRecall}%.3f |\n"
    }
    sb.toString
  }

  private def table(pts: Seq[Point]): String = {
    val sb = new StringBuilder
    sb ++= "| nprobe | lists probed | corpus scanned | mean recall@10 | min recall@10 |\n"
    sb ++= "|---|---|---|---|---|\n"
    pts.foreach { p =>
      sb ++= f"| ${p.nprobe} | ${p.fraction * 100}%.0f%% | ${p.scannedFraction * 100}%.1f%% | ${p.meanRecall}%.3f | ${p.minRecall}%.3f |\n"
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val out = if (args.length > 1) args(1) else "RECALL.md"
    val nlist = 16
    val k = 10
    val spark = GraftSession.local()
    val pts = curve(spark, sfDir, nlist, k)
    val cpts = clusteredCurve(spark, nlist, k)

    val sb = new StringBuilder
    sb ++= "# RECALL — persisted KMeans IVF index\n\n"
    sb ++= "> Round 11: the recall measurement itself is now part of the driver's\n" +
      "> hash gate, not just this artifact — `ann_ivf_recall_eval` registers\n" +
      "> the recall@10-vs-nprobe curve for the seeded nlist=8 index\n" +
      "> (0.77 / 0.85 / 0.93 / 1.00 at nprobe 1/2/4/8, sf0.01; closes at 1.0\n" +
      "> when nprobe = nlist by construction), and `ann_recall_eval` the\n" +
      "> radius-1 LSH per-query recall@10 — both with full DuckDB oracles\n" +
      "> that re-derive centroids/planes, assignments, probe sets, and both\n" +
      "> rankings in SQL. The tables below remain the broader sweeps.\n\n"
    sb ++= "## Fixture corpus (worst case: near-uniform embeddings)\n\n"
    sb ++= s"Corpus: `$sfDir/embeddings.parquet` (dim 64), nlist=$nlist " +
      "(k-means‖, seed 42, 20 iters), index persisted partitioned by " +
      "`cluster_id` and read back through the partition-pruned path.\n" +
      "Workload: every 100th corpus vector + the out-of-corpus flagship " +
      s"query; recall@$k vs the exact scan, mean and worst-query.\n\n"
    sb ++= table(pts)
    sb ++= "\nReading the curve: `corpus scanned` is the true cost (per-query " +
      "probed-list row fraction — list sizes are skewed, so it differs from " +
      "nprobe/nlist); recall is the quality bought. The synthetic fixture " +
      "embeddings are near-uniform (a vector's exact top-10 rarely shares " +
      "its cluster structure), which makes this a WORST-CASE corpus for " +
      "IVF: recall per scanned-byte still beats random probing ~2-3x " +
      "(AnnSpec's informativeness bound), and real clustered embedding " +
      "corpora sit far above this curve (next section). Tune nprobe to the " +
      "knee; nprobe=nlist reproduces the exact scan (recall 1.0) by " +
      "construction.\n\n"
    sb ++= "## Clustered corpus (the regime IVF is for)\n\n"
    sb ++= "Same index build over a deterministic mixture-of-Gaussians " +
      "corpus (2000×64, 32 clusters, σ=0.15 — locally clustered like real " +
      "embedding corpora), same workload shape. This is the regime the " +
      "production tuning target (recall@10 ≥ 0.9 while probing ≤ nlist/4) " +
      "refers to; AnnSpec asserts it per-commit.\n\n"
    sb ++= table(cpts)
    sb ++= "\n## LSH radius sweep (sign-plane buckets, the rewrite's other index family)\n\n"
    sb ++= s"Same fixture corpus under the 8-bit md5 sign-plane LSH store " +
      "(256 buckets, bucket-partitioned — the `ann_lsh_rule_rewrite` " +
      "read path). Radius = hamming flips allowed in the multi-probe " +
      "set; the transparent rewrite serves radius 1 (9 buckets) by " +
      "default.\n\n"
    sb ++= lshTable(lshCurve(spark, sfDir, nBits = 8, k = k))
    sb ++= "\nSign-LSH trades recall for scan fraction on a different " +
      "axis than IVF: bucket membership is determined by the query's " +
      "side of 8 hyperplanes, so near-uniform corpora split ~evenly " +
      "(scan ≈ probes/256) and recall grows with radius as the probe " +
      "set covers more sign flips. Like the IVF fixture curve above, a " +
      "near-uniform corpus is the WORST CASE — recall per scanned row " +
      "still beats random probing, but absolute recall is low; on " +
      "clustered corpora (or with more bits + more probes) the same " +
      "machinery sits far higher. The rewrite's radius-1 default is " +
      "the latency point; audits wanting recall should probe radius 2+ " +
      "or switch the store to the KMeans IVF index, whose " +
      "clustered-regime curve reaches 1.0 at nprobe=1.\n"
    sb ++= "\n## PQ shortlist sweep (ADC shortlist → exact rescore)\n\n"
    sb ++= "Same fixture corpus and workload under the PQ codes store " +
      "(m=8 × ksub=16 over 64-d — `ann_pq_rescore`'s read path, 3.3% of " +
      "the vector store's bytes per PLANS.md). The shortlist is PQ's " +
      "tuning knob (as nprobe is IVF's): the exact stage's cost is the " +
      "shortlist size, and recall is bounded by whether the true " +
      "neighbors survive the ADC cut. shortlist=10 is pure-ADC set " +
      "recall (rescoring a 10-set cannot change it).\n\n"
    sb ++= pqTable(pqCurve(spark, sfDir, k))
    sb ++= "\nUnlike IVF/LSH, PQ scans EVERY row (compression, not " +
      "pruning), so recall is limited only by quantization error — and " +
      "an 8-byte code (64 bits for 64 dims) is COARSE on a near-uniform " +
      "corpus, where true neighbors are barely closer than everything " +
      "else: this is PQ's worst case exactly as it is IVF's. The knobs " +
      "are m and ksub (more code bits → finer cells) and the shortlist. " +
      "The clustered regime below is the one real stores live in.\n\n"
    sb ++= "## PQ shortlist sweep, clustered corpus\n\n"
    sb ++= "Same mixture-of-Gaussians corpus as the IVF clustered " +
      "section (2000×64, 32 clusters, σ=0.15), same 8-byte codes.\n\n"
    sb ++= pqTable(pqClusteredCurve(spark, k))
    sb ++= "\nIn the clustered regime the 8-byte code separates " +
      "clusters cleanly and the ADC shortlist recovers the true " +
      "neighbors with a small rescore budget — and PQ composes with " +
      "IVF: an IVF-partitioned codes store prunes rows (nprobe/nlist) " +
      "AND shrinks bytes per scanned row (~1/30), multiplying the two " +
      "savings at 100 TB.\n"
    sb ++= "\n## IVF-PQ composed sweep, clustered corpus (ann_ivfpq_adc's read path)\n\n"
    sb ++= "The composed store measured end-to-end: probe nprobe of 16 " +
      "lists → residual-ADC shortlist (50) over the cluster-partitioned " +
      "codes → exact rescore of the shortlist. Same clustered corpus; " +
      "`corpus scanned` counts probed-list rows (each row is 8 code " +
      "bytes, not 256 vector bytes — multiply by ~1/30 for the byte " +
      "fraction, per PLANS.md).\n\n"
    sb ++= ivfPqTable(ivfPqClusteredCurve(spark, k))
    sb ++= "\nResidual coding keeps the quantization error small " +
      "relative to within-cluster distances, so recall tracks the IVF " +
      "probe curve (the coarse quantizer dominates) while the scan " +
      "pays code bytes only — the default big-corpus serving " +
      "configuration.\n"
    sb ++= "\n## NSW beam-width sweep (sharded graph-ANN, ann_nsw_beam's read path)\n\n"
    sb ++= "Same fixture corpus under the sharded Navigable-Small-World " +
      "store (4 shards, m=8, efConstruction=32 — graph built per shard " +
      "by deterministic ascending-id insertion, persisted partitioned " +
      "by shard). efSearch is the beam width — the graph family's " +
      "tuning knob: the walk touches O(ef·log n) nodes per shard and " +
      "emits ≤ ef candidates per shard for the exact re-rank.\n\n"
    sb ++= nswTable(nswCurve(spark, Tables.embeddings(spark, sfDir), k,
      includeFlagship = true))
    sb ++= "\n## NSW beam-width sweep, clustered corpus\n\n"
    sb ++= "Same mixture-of-Gaussians corpus as the IVF/PQ clustered " +
      "sections (2000×64, 32 clusters, σ=0.15).\n\n"
    sb ++= nswTable(nswCurve(spark,
      clusteredCorpus(spark, n = 2000, dim = 64, nClusters = 32,
        sigma = 0.15, seed = 7L), k, includeFlagship = false))
    sb ++= "\n## HNSW ef sweep (layered entry descent) vs the flat NSW\n\n"
    sb ++= "The same shards, insertion heuristic, and efSearch beam at " +
      "layer 0, plus the Malkov & Yashunin log-layer hierarchy: each " +
      "node draws level l with P(level ≥ l) = m^(-l) from the md5 hash " +
      "of its id (deterministic — levels survive appends/rebuilds), " +
      "upper layers keep m diverse edges, and search greedily descends " +
      "from the top-level entry before the layer-0 beam. The payoff is " +
      "ENTRY QUALITY: at the default ef both stores saturate, but at " +
      "small beams on the clustered corpus the layered descent nearly " +
      "doubles mean recall over the flat store's smallest-id entry " +
      "(0.76 vs 0.40 at ef=8, 0.95 vs 0.90 at ef=16) — the beam starts " +
      "next to the right cluster instead of walking in from an " +
      "arbitrary corner, and that gap widens with shard size — " +
      "ann_hnsw_beam's read path.\n\n"
    sb ++= nswTable(nswCurve(spark, Tables.embeddings(spark, sfDir), k,
      includeFlagship = true, layered = true))
    sb ++= "\nClustered corpus (same mixture as above):\n\n"
    sb ++= nswTable(nswCurve(spark,
      clusteredCorpus(spark, n = 2000, dim = 64, nClusters = 32,
        sigma = 0.15, seed = 7L), k, includeFlagship = false, layered = true))
    sb ++= "\n## Routed HNSW fan-out sweep (ann_hnsw_routed's read path)\n\n"
    sb ++= "The shard router: each shard keeps one centroid (a bounded " +
      "build-time aggregate), a query beams only its nprobe " +
      "centroid-nearest shards, and per-query cost becomes " +
      "O(nprobe·ef·log shardSize) — constant in corpus size where the " +
      "full fan grows linearly with nShards. nprobe = 4 (= nShards) " +
      "reproduces the full fan exactly. Fixture corpus first:\n\n"
    sb ++= routedTable(routedCurve(spark, Tables.embeddings(spark, sfDir), k,
      includeFlagship = true))
    sb ++= "\nClustered corpus (same mixture; cluster c lands on shard " +
      "c mod 4 under the hash sharding, so shards carry disjoint " +
      "cluster subsets — a locality-bearing layout):\n\n"
    sb ++= routedTable(routedCurve(spark,
      clusteredCorpus(spark, n = 2000, dim = 64, nClusters = 32,
        sigma = 0.15, seed = 7L), k, includeFlagship = false))
    sb ++= "\nReading the trade: on the NEAR-UNIFORM fixture every " +
      "shard sees the same distribution, centroids nearly coincide, " +
      "and routing approximates a uniform shard sample — recall ≈ " +
      "(nprobe/nShards)·full-fan, the documented worst case. On the " +
      "locality-bearing layout the router sends each query to the " +
      "shards that actually hold its cluster, buying most of the full " +
      "fan's recall at a quarter of its beams — the routed deployment " +
      "therefore shards by a locality-bearing key (arrival window when " +
      "drift gives windows structure, or a coarse k-means assignment — " +
      "the IVF-of-graphs layout), and that is what makes graph-ANN " +
      "query cost independent of corpus size at 100 TB.\n"
    sb ++= "\nUnlike IVF/LSH (which prune by a coarse quantizer) and PQ " +
      "(which compresses), the graph walk adapts its scanned set to " +
      "each query's neighborhood, so recall per candidate re-ranked is " +
      "the best of the four families on BOTH corpora — the candidate " +
      "fraction column is the whole serving cost. The trade is the " +
      "build (n·log n beam inserts per shard, imperative) and a " +
      "mutable-unfriendly store: appends need graph re-insertion, " +
      "where IVF appends are one centroid assignment " +
      "(maint_ivf_append). Shards are independent, so the store " +
      "scales by adding shards; each query fans one beam per shard.\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes("UTF-8"))
    println(sb.toString)
    spark.stop()
  }
}
