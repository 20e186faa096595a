package graft

import graft.operators.{Ann, Knn}
import graft.plans.IvfCatalog
import graft.queries.QueryVectors
import org.apache.spark.sql.execution.FileSourceScanExec

/** The transparent exact-KNN → IVF-probe optimizer rule: a plain
  * `Knn.search` over a REGISTERED cluster-partitioned table gets probe
  * pruning injected by the optimizer; unregistered tables are
  * untouched.
  */
class IvfProbeRuleSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf("sf0.001"))
  private val q = QueryVectors.queryVec64

  // The serving cost model read back in the shapes the gates project:
  // three-way rows, four-way bytes, bytes plus the widened knobs, and
  // bytes beside the calibrated ns costs.
  import graft.plans.IvfProbeRule.{GraphBound, PqFamily, ServingPrice, ServingWeights, priceServing}
  private def rows3(p: ServingPrice) =
    (p.chosen, p.rows(p.bytes.ivf), p.rows(p.bytes.lsh), p.rows(p.bytes.hnsw))
  private def bytes4(p: ServingPrice) =
    (p.chosen, p.bytes.ivf, p.bytes.lsh, p.bytes.hnsw, p.bytes.pq.get)
  private def knobs(p: ServingPrice) =
    (p.chosen, p.bytes.ivf, p.bytes.lsh, p.bytes.hnsw, p.bytes.pq.get, p.efEff, p.slEff)
  private def calibrated(p: ServingPrice, w: ServingWeights) = {
    val ns = p.weighted(w)
    (p.chosen, ns.chosen, p.bytes.ivf, p.bytes.lsh, p.bytes.hnsw, p.bytes.pq.get,
      ns.ivf, ns.lsh, ns.hnsw, ns.pq.get)
  }

  private def withIndexDir(f: (String, Array[Array[Float]]) => Unit): Unit = {
    val cents = Ann.seededCentroids(emb, "embedding", "vec_id", nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_rule").toString
    try {
      Ann.writeIndexed(emb, "embedding", cents, dir)
      f(dir, cents)
    } finally {
      IvfCatalog.clear()
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("registered table: plain exact search is rewritten to a 3-partition probe scan") {
    withIndexDir { (dir, cents) =>
      IvfCatalog.register(dir, cents, nprobe = 3)
      spark.catalog.clearCache()
      val hits = Knn.search(Ann.readIndexed(spark, dir), "embedding", "vec_id", q, k = 10)
      val scan = hits.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case s: FileSourceScanExec => s }.get
      assert(scan.selectedPartitions.partitionCount == 3,
        s"rule should prune to nprobe=3 partitions, scanned ${scan.selectedPartitions.partitionCount}")
      // results equal the explicit Ann.search probe path
      val expect = Ann.search(Ann.readIndexed(spark, dir), "embedding", "vec_id",
        q, k = 10, cents, nprobe = 3).select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(hits.select("vec_id").collect().map(_.getLong(0)).toSeq == expect)
    }
  }

  test("rewrite fires with the query vector in EITHER argument position (metric symmetry)") {
    import org.apache.spark.sql.functions._
    withIndexDir { (dir, cents) =>
      IvfCatalog.register(dir, cents, nprobe = 3)
      spark.catalog.clearCache()
      // literal-FIRST distance — the argument order the unreachable
      // second match arm silently dropped before the r18 fix
      val hits = Ann.readIndexed(spark, dir)
        .withColumn("distance_score",
          graft.functions.VectorFunctions.cosineDistance(
            typedLit(q), col("embedding")))
        .orderBy(col("distance_score").asc, col("vec_id").asc)
        .limit(10)
      val scan = hits.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case s: FileSourceScanExec => s }.get
      assert(scan.selectedPartitions.partitionCount == 3,
        s"literal-first call must get the same probe pruning, scanned " +
          s"${scan.selectedPartitions.partitionCount}")
      val expect = Knn.search(Ann.readIndexed(spark, dir), "embedding",
        "vec_id", q, k = 10).select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(hits.select("vec_id").collect().map(_.getLong(0)).toSeq == expect,
        "metric symmetry: both argument orders rank identically")
    }
  }

  test("hybrid search through the rule: label predicate AND probe pruning compose") {
    import org.apache.spark.sql.functions.col
    withIndexDir { (dir, cents) =>
      IvfCatalog.register(dir, cents, nprobe = 3)
      spark.catalog.clearCache()
      val hits = Knn.filteredSearch(Ann.readIndexed(spark, dir),
        col("label") === 3, "embedding", "vec_id", q, k = 5)
      val scan = hits.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case s: FileSourceScanExec => s }.get
      assert(scan.selectedPartitions.partitionCount == 3,
        "the probe filter must prune partitions even with a user predicate in the plan")
      assert(hits.select("label").collect().forall(_.getInt(0) == 3),
        "the user predicate must still apply")
      // full-probe hybrid (nprobe = nlist) reproduces the exact filtered search
      IvfCatalog.register(dir, cents, nprobe = 8)
      spark.catalog.clearCache()
      val full = Knn.filteredSearch(Ann.readIndexed(spark, dir),
        col("label") === 3, "embedding", "vec_id", q, k = 5)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      val exact = Knn.filteredSearch(emb, col("label") === 3,
        "embedding", "vec_id", q, k = 5)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(full == exact)
    }
  }

  test("unregistered table: exact search untouched (all partitions scanned)") {
    withIndexDir { (dir, _) =>
      spark.catalog.clearCache()
      val hits = Knn.search(Ann.readIndexed(spark, dir), "embedding", "vec_id", q, k = 10)
      val scan = hits.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case s: FileSourceScanExec => s }.get
      assert(scan.selectedPartitions.partitionCount == 8)
      // exact answer = brute force over the whole corpus
      val exact = Knn.search(emb, "embedding", "vec_id", q, k = 10)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(hits.select("vec_id").collect().map(_.getLong(0)).toSeq == exact)
    }
  }

  test("rule also rewrites L2-metric searches") {
    withIndexDir { (dir, cents) =>
      IvfCatalog.register(dir, cents, nprobe = 3)
      spark.catalog.clearCache()
      val hits = Knn.search(Ann.readIndexed(spark, dir), "embedding", "vec_id",
        q, k = 10, metric = Knn.L2)
      val scan = hits.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case s: FileSourceScanExec => s }.get
      assert(scan.selectedPartitions.partitionCount == 3)
    }
  }

  test("probing all lists through the rule reproduces the exact result") {
    withIndexDir { (dir, cents) =>
      IvfCatalog.register(dir, cents, nprobe = 8)
      spark.catalog.clearCache()
      val viaRule = Knn.search(Ann.readIndexed(spark, dir), "embedding", "vec_id", q, k = 10)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      val exact = Knn.search(emb, "embedding", "vec_id", q, k = 10)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(viaRule == exact)
    }
  }

  test("LSH-registered table: plain exact search is rewritten to the 9-bucket probe scan") {
    import graft.plans.LshCatalog
    val planes = Ann.signPlanes(dim = 64, nBits = 8)
    val lq = graft.queries.QueryVectors.queryVec64
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_rule").toString
    try {
      Ann.writeLshIndexed(emb, "embedding", planes, dir)
      LshCatalog.register(dir, planes, radius = 1)
      spark.catalog.clearCache()
      val hits = Knn.search(Ann.readIndexed(spark, dir), "embedding", "vec_id", lq, k = 10)
      val scan = hits.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case s: FileSourceScanExec => s }.get
      val probes = Ann.probeBuckets(Ann.queryBucket(lq, planes), 8, 1)
      // only bucket directories that EXIST are scanned (≤ 9 probes)
      assert(scan.selectedPartitions.partitionCount <= probes.length,
        s"probe filter must prune to at most ${probes.length} bucket partitions, " +
          s"scanned ${scan.selectedPartitions.partitionCount}")
      // results equal the explicit multi-probe lshSearch path
      val expect = Ann.lshSearch(
        Ann.assignLshBuckets(emb, "embedding", planes), "embedding", "vec_id",
        lq, k = 10, planes, radius = 1)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(hits.select("vec_id").collect().map(_.getLong(0)).toSeq == expect)
      // unregistering restores the exact full scan
      LshCatalog.clear()
      spark.catalog.clearCache()
      val full = Knn.search(Ann.readIndexed(spark, dir), "embedding", "vec_id", lq, k = 10)
      val fullScan = full.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case s: FileSourceScanExec => s }.get
      assert(fullScan.selectedPartitions.partitionCount > probes.length,
        "without registration every bucket partition must be scanned")
    } finally {
      LshCatalog.clear()
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("both-registered hybrid store: cost choice picks the cheaper index and flips with the stats") {
    import graft.plans.LshCatalog
    val planes = Ann.signPlanes(dim = 64, nBits = 8)
    val cents = Ann.seededCentroids(emb, "embedding", "vec_id", nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_hybrid_rule").toString
    try {
      Ann.writeHybridIndexed(emb, "embedding", cents, planes, dir)
      // exact per-partition stats from one bounded groupBy (what the
      // registered query computes at build time)
      val cells = spark.read.parquet(dir)
        .selectExpr("CAST(cluster_id AS INT) AS c", "CAST(lsh_bucket AS BIGINT) AS b")
        .groupBy("c", "b").count().collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      val clusterRows = cells.groupBy(_._1).map { case (c, g) => c -> g.map(_._3).sum }
      val bucketRows = cells.groupBy(_._2).map { case (b, g) => b -> g.map(_._3).sum }

      // the injected probe shows up as a PartitionFilters IN-list on the
      // index column (attributes print with exprIds — match by regex)
      val lshProbe = "lsh_bucket#\\d+L? IN ".r
      val ivfProbe = "cluster_id#\\d+L? IN ".r
      def planOf(): String = {
        spark.catalog.clearCache()
        Knn.search(Ann.readIndexed(spark, dir), "embedding", "vec_id", q, k = 10)
          .queryExecution.executedPlan.toString
      }

      // real stats: the hamming-≤1 LSH probe set (≤9/256 buckets) scans
      // far fewer rows than 3/8 IVF lists — the rule must choose LSH
      IvfCatalog.register(dir, cents, nprobe = 3, clusterRows)
      LshCatalog.register(dir, planes, radius = 1, bucketRows)
      val lshPlan = planOf()
      assert(lshProbe.findFirstIn(lshPlan).isDefined &&
        ivfProbe.findFirstIn(lshPlan).isEmpty,
        s"with LSH scanning fewer rows the rule must inject the bucket probe:\n$lshPlan")
      val (chosen, _, _) = graft.plans.IvfProbeRule.chooseIndex(q,
        IvfCatalog.IvfIndex(cents, 3, clusterRows),
        LshCatalog.LshIndex(planes, 1, bucketRows))
      assert(chosen == "lsh")

      // flipped stats: inflate every bucket count so LSH looks like a
      // full scan — the choice must flip to the IVF probe
      val inflated = bucketRows.map { case (b, n) => b -> (n + 1000000L) }
      LshCatalog.register(dir, planes, radius = 1, inflated)
      val ivfPlan = planOf()
      assert(ivfProbe.findFirstIn(ivfPlan).isDefined &&
        lshProbe.findFirstIn(ivfPlan).isEmpty,
        s"with flipped stats the rule must inject the cluster probe:\n$ivfPlan")

      // missing stats on one side: documented IVF-precedence fallback
      LshCatalog.register(dir, planes, radius = 1)
      val fallbackPlan = planOf()
      assert(ivfProbe.findFirstIn(fallbackPlan).isDefined,
        s"missing stats must fall back to IVF precedence:\n$fallbackPlan")

      // the chosen-probe result equals the explicit LSH probe path
      LshCatalog.register(dir, planes, radius = 1, bucketRows)
      spark.catalog.clearCache()
      val hits = Knn.search(Ann.readIndexed(spark, dir), "embedding", "vec_id", q, k = 10)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      val expect = Ann.lshSearch(
        Ann.assignLshBuckets(emb, "embedding", planes), "embedding", "vec_id",
        q, k = 10, planes, radius = 1)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(hits == expect)
    } finally {
      IvfCatalog.clear()
      LshCatalog.clear()
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  // The six serving-cost tests below keep the names of the per-gate
  // choosers that priceServing replaced; each prices its gate's scenario
  // through priceServing and reads the result back in that gate's shape.
  test("chooseServing: synthetic stats flip the three-way choice; missing stats fall back to IVF") {
    import graft.plans.{IvfCatalog, LshCatalog}
    val planes = Ann.signPlanes(dim = 64, nBits = 8)
    val cents = Ann.seededCentroids(emb, "embedding", "vec_id", nlist = 8)
    val ivfProbes = Ann.probeIds(q, cents, nprobe = 3)
    val lshProbes = Ann.probeBuckets(
      Ann.queryBucket(q, planes), planes.length, radius = 1)
    // synthetic stats targeting exactly the probed partitions: each map
    // below fixes the rows THIS query's probe set would scan, so each
    // scenario pins one argmin winner (hnsw bound = min(4,2)·32 = 64)
    def ivfStats(rowsPerProbe: Long): Map[Int, Long] =
      ivfProbes.map(_ -> rowsPerProbe).toMap
    def lshStats(rowsPerProbe: Long): Map[Long, Long] =
      lshProbes.map(_ -> rowsPerProbe).toMap
    def choose(ivfRows: Long, lshRows: Long) =
      rows3(priceServing(Seq(q),
        IvfCatalog.IvfIndex(cents, 3, ivfStats(ivfRows)),
        LshCatalog.LshIndex(planes, 1, lshStats(lshRows)),
        GraphBound(nShards = 4, nprobe = 2, efSearch = 32)))
    // hnsw: its 64-candidate bound strictly under both row estimates
    assert(choose(1000, 1000)._1 == "hnsw")
    // lsh: cheapest probe set (1 row/bucket, ≤ 9 rows) beats both
    assert(choose(1000, 1)._1 == "lsh")
    // ivf: cheapest lists (1 row/list, 3 rows) beat lsh and the bound
    assert(choose(1, 1000)._1 == "ivf")
    // tie discipline: equal estimates keep IVF precedence (hnsw only on
    // STRICT <, lsh only when strictly under ivf) — 3 lists × 3 rows ≡
    // 9 buckets × 1 row ≡ 9, both under the 64 bound
    assert(lshProbes.length == 9)
    val (tieChosen, ivfRows, lshRows, bound) = choose(3, 1)
    assert(ivfRows == 9 && lshRows == 9 && bound == 64)
    assert(tieChosen == "ivf")
    // missing stats on either side: documented IVF fallback, estimates -1
    val (fb, fbIvf, fbLsh, _) = rows3(priceServing(Seq(q),
      IvfCatalog.IvfIndex(cents, 3, Map.empty),
      LshCatalog.LshIndex(planes, 1, lshStats(1)),
      GraphBound(nShards = 4, nprobe = 2, efSearch = 32)))
    assert(fb == "ivf" && fbIvf == -1L && fbLsh == -1L)
  }

  test("chooseServing4: synthetic stats flip the four-way choice; byte unit and tie discipline hold") {
    import graft.plans.{IvfCatalog, LshCatalog}
    val planes = Ann.signPlanes(dim = 64, nBits = 8)
    val cents = Ann.seededCentroids(emb, "embedding", "vec_id", nlist = 8)
    val ivfProbes = Ann.probeIds(q, cents, nprobe = 3)
    val lshProbes = Ann.probeBuckets(
      Ann.queryBucket(q, planes), planes.length, radius = 1)
    def ivfStats(rowsPerProbe: Long): Map[Int, Long] =
      ivfProbes.map(_ -> rowsPerProbe).toMap
    def lshStats(rowsPerProbe: Long): Map[Long, Long] =
      lshProbes.map(_ -> rowsPerProbe).toMap
    // hnsw bound = min(4,2)·32·256 = 16384 bytes; pq = N·8 + 16·256
    def choose(ivfRows: Long, lshRows: Long, corpusRows: Long) =
      bytes4(priceServing(Seq(q),
        IvfCatalog.IvfIndex(cents, 3, ivfStats(ivfRows)),
        LshCatalog.LshIndex(planes, 1, lshStats(lshRows)),
        GraphBound(nShards = 4, nprobe = 2, efSearch = 32),
        Some(PqFamily(corpusRows, m = 8, shortlist = 16))))
    // pq: 500·8 + 4096 = 8096 B strictly under probes AND the hnsw bound
    assert(choose(1000, 1000, 500)._1 == "pq")
    // hnsw: a big corpus prices pq out (1e6·8 ≫ 16384), probes still bad
    assert(choose(1000, 1000, 1000000)._1 == "hnsw")
    // lsh: 9 buckets × 1 row × 256 B = 2304 B beats everything
    assert(choose(1000, 1, 500)._1 == "lsh")
    // ivf: 3 lists × 1 row × 256 B = 768 B beats everything
    assert(choose(1, 1000, 500)._1 == "ivf")
    // byte unit: estimates are rows×256 for the probe paths
    val (_, ivfB, lshB, hnswB, pqB) = choose(10, 10, 500)
    assert(ivfB == 3L * 10 * 256 && lshB == 9L * 10 * 256)
    assert(hnswB == 64L * 256 && pqB == 500L * 8 + 16L * 256)
    // tie discipline: pq must be STRICTLY under all three — at exactly
    // the hnsw bound (N·8 + 4096 = 16384 → N = 1536) hnsw keeps the win
    assert(choose(1000, 1000, 1536)._1 == "hnsw")
    // missing stats: documented IVF fallback with -1 probe estimates
    val (fb4, a, b, _, _) = bytes4(priceServing(Seq(q),
      IvfCatalog.IvfIndex(cents, 3, Map.empty),
      LshCatalog.LshIndex(planes, 1, lshStats(1)),
      GraphBound(nShards = 4, nprobe = 2, efSearch = 32),
      Some(PqFamily(500, m = 8, shortlist = 16))))
    assert(fb4 == "ivf" && a == -1L && b == -1L)
  }

  test("chooseServingBatch: batch size alone flips hnsw (small) → pq (large); totals are per-batch") {
    import graft.plans.{IvfCatalog, LshCatalog}
    val planes = Ann.signPlanes(dim = 64, nBits = 8)
    val cents = Ann.seededCentroids(emb, "embedding", "vec_id", nlist = 8)
    def batchOf(n: Int): Seq[Array[Float]] = Seq.fill(n)(q)
    def stats(rowsPerProbe: Long) = (
      Ann.probeIds(q, cents, nprobe = 3).map(_ -> rowsPerProbe).toMap,
      Ann.probeBuckets(Ann.queryBucket(q, planes), planes.length, radius = 1)
        .map(_ -> rowsPerProbe).toMap)
    def choose(b: Int, corpusRows: Long) = {
      val (ivfS, lshS) = stats(1000L)
      bytes4(priceServing(batchOf(b),
        IvfCatalog.IvfIndex(cents, 3, ivfS),
        LshCatalog.LshIndex(planes, 1, lshS),
        GraphBound(nShards = 4, nprobe = 2, efSearch = 32),
        Some(PqFamily(corpusRows, m = 8, shortlist = 16))))
    }
    // per-query: hnsw bound 16384 B, probe paths ≥ 768 kB. corpus 10⁴:
    // pq scan = 80 kB shared. B=1: hnsw 16384 < pq 84096 → hnsw.
    val (c1, i1, l1, h1, p1) = choose(1, 10000L)
    assert(c1 == "hnsw", s"single query on a big corpus must beam: $c1")
    // B=32: hnsw 32·16384 = 524288; pq 80000 + 32·4096 = 211072 → pq —
    // the SAME corpus, the SAME stats, only the batch size moved
    val (c32, _, _, h32, p32) = choose(32, 10000L)
    assert(c32 == "pq", s"large batch must amortize the ADC scan: $c32")
    // totals are per-batch: linear terms scale by B, the pq scan doesn't
    assert(h32 == 32L * h1 && p32 == p1 + 31L * 16 * 256)
    assert(i1 == 3L * 1000 * 256 && l1 == 9L * 1000 * 256)
    // tie discipline: at B·(hnswPerQ − shortlistBytes) == N·m exactly,
    // pq is NOT strictly cheaper → hnsw keeps the win.
    // B=2: 2·(16384 − 4096) = 24576 = N·8 → N = 3072
    assert(choose(2, 3072L)._1 == "hnsw")
    assert(choose(2, 3071L)._1 == "pq")
    // missing stats: the same sticky-ivf fallback at any batch size
    val (fb, fa, fbb, _, _) = bytes4(priceServing(batchOf(4),
      IvfCatalog.IvfIndex(cents, 3, Map.empty),
      LshCatalog.LshIndex(planes, 1, stats(1L)._2),
      GraphBound(nShards = 4, nprobe = 2, efSearch = 32),
      Some(PqFamily(500, m = 8, shortlist = 16))))
    assert(fb == "ivf" && fa == -1L && fbb == -1L)
  }

  test("chooseServingFiltered: selectivity alone flips the winner; widened knobs are exact ceilings") {
    import graft.plans.{IvfCatalog, LshCatalog}
    val planes = Ann.signPlanes(dim = 64, nBits = 8)
    val cents = Ann.seededCentroids(emb, "embedding", "vec_id", nlist = 8)
    def stats(rowsPerProbe: Long) = (
      Ann.probeIds(q, cents, nprobe = 3).map(_ -> rowsPerProbe).toMap,
      Ann.probeBuckets(Ann.queryBucket(q, planes), planes.length, radius = 1)
        .map(_ -> rowsPerProbe).toMap)
    def choose(matchRows: Long, totalRows: Long, probeRows: Long = 1000L) = {
      val (ivfS, lshS) = stats(probeRows)
      knobs(priceServing(Seq(q),
        IvfCatalog.IvfIndex(cents, 3, ivfS),
        LshCatalog.LshIndex(planes, 1, lshS),
        GraphBound(nShards = 4, nprobe = 2, efSearch = 32),
        Some(PqFamily(totalRows, m = 8, shortlist = 16)),
        selectivity = Some(matchRows -> totalRows)))
    }
    // s = 1 on a big corpus: the graph's constant bound wins (16384 B
    // vs pq 80 kB scan, probes 768 kB+)
    val (cAll, _, _, hAll, pAll, efAll, slAll) = choose(10000L, 10000L)
    assert(cAll == "hnsw" && efAll == 32 && slAll == 16)
    assert(hAll == 2L * 32 * 256 && pAll == 10000L * 8 + 16L * 256)
    // s = 1/100: the predicate-blind beam widens 100× (838 kB) while
    // pq only widens its rescore (80 kB + 410 kB) — SAME stats, same
    // corpus, only selectivity moved
    val (cSel, _, _, hSel, pSel, efSel, slSel) = choose(100L, 10000L)
    assert(cSel == "pq", s"selective predicate must price the beam out: $cSel")
    assert(efSel == 3200 && slSel == 1600)
    assert(hSel == 2L * 3200 * 256 && pSel == 10000L * 8 + 1600L * 256)
    // probe paths are selectivity-INVARIANT: tiny probe stats keep
    // winning at any selectivity
    assert(choose(100L, 10000L, probeRows = 1L)._1 == "ivf")
    // exact ceiling arithmetic (not float division): 32·1000/300 = 106.67 → 107
    assert(choose(300L, 1000L)._6 == 107L && choose(300L, 1000L)._7 == 54L)
    // saturation (ADVICE r19): the widened knobs stay Long and clamp at
    // the corpus size — a beam wider than every row means "scan
    // everything"; the old toInt at corpus ~2e9 × ef 32 wrapped
    // NEGATIVE, making hnsw's bytes negative and spuriously winning
    // every comparison (and running the beam with a negative efSearch)
    val (cBig, _, _, hBig, pBig, efBig, slBig) = choose(1L, 2_000_000_000L)
    assert(efBig == 2_000_000_000L && slBig == 2_000_000_000L,
      s"knobs must saturate at totalRows: ef=$efBig sl=$slBig")
    assert(hBig > 0L && pBig > 0L && cBig != "hnsw",
      s"saturated beam must not win via overflow: $cBig ($hBig vs $pBig)")
    // domain guard
    intercept[IllegalArgumentException](choose(0L, 10L))
    intercept[IllegalArgumentException](choose(11L, 10L))
  }

  test("choosePqBatchShape: the cache budget flips the execution shape; B=1 is always per-query") {
    import graft.plans.IvfProbeRule.choosePqBatchShape
    // 2M codes × m=8 = 16 MB: beyond a 1 MiB budget → shared pass;
    // within a 1 GiB budget → B cached TakeOrdered scans
    assert(choosePqBatchShape(2000000L, 8, 32, 1L << 20) == ("shared", 16000000L))
    assert(choosePqBatchShape(2000000L, 8, 32, 1L << 30) == ("perquery", 16000000L))
    // a single query has no amortization to buy — per-query regardless
    assert(choosePqBatchShape(2000000L, 8, 1, 1L)._1 == "perquery")
    intercept[IllegalArgumentException](choosePqBatchShape(10L, 8, 0, 1L))
  }

  test("a manually-probed scan is NOT double-filtered — the idempotence guard matches InSet, not just In (r20)") {
    import graft.plans.{IvfCatalog, LshCatalog}
    val planes = Ann.signPlanes(dim = 64, nBits = 8)
    val cents = Ann.seededCentroids(emb, "embedding", "vec_id", nlist = 8)
    val path = java.nio.file.Files.createTempDirectory("graft_inset").toString + "/idx"
    Ann.writeHybridIndexed(emb, "embedding", cents, planes, path)
    try {
      IvfCatalog.register(path, cents, nprobe = 3,
        cents.indices.map(_ -> 1L).toMap)
      LshCatalog.register(path, planes, radius = 1, Map(0L -> 1L))
      // 37 probe values — OptimizeIn rewrites the In to InSet (threshold
      // 10), which the pre-r20 guard didn't recognize: the rule re-fired
      // and silently INTERSECTED the caller's radius-2 probe set with
      // its own cluster filter (caught by ann_cost_serving_calibrated's
      // full-suite row-count mismatch)
      val probes = Ann.probeBuckets(Ann.queryBucket(q, planes),
        planes.length, radius = 2)
      assert(probes.length > 10, "premise: above the InSet threshold")
      val df = Knn.search(Ann.readIndexed(spark, path)
          .filter(org.apache.spark.sql.functions.col("lsh_bucket").isin(probes: _*)),
        "embedding", "vec_id", q, k = 10)
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("cluster_id") ||
        !optimized.matches("(?s).*Filter.*cluster_id.*IN.*"),
        s"rule must not inject a second probe filter over a manually-probed scan:\n$optimized")
      // and the result is the full radius-2 top-10, not an intersection
      val manual = emb.collect().map { r =>
        (r.getLong(0), r.getSeq[Float](1).toArray)
      }.filter { case (_, v) =>
        probes.contains(Ann.queryBucket(v, planes))
      }
      assert(df.count() == math.min(10L, manual.length.toLong))
    } finally {
      IvfCatalog.unregister(path); LshCatalog.unregister(path)
      import scala.reflect.io.Directory
      new Directory(new java.io.File(path).getParentFile).deleteRecursively()
    }
  }

  test("chooseServingCalibrated: measured ns/KiB weights overturn the byte argmin; fallback stays sticky-ivf") {
    import graft.plans.{IvfCatalog, LshCatalog}
    val planes = Ann.signPlanes(dim = 64, nBits = 8)
    val cents = Ann.seededCentroids(emb, "embedding", "vec_id", nlist = 8)
    // the r20 measured weights (RECALL.md "Serving latency calibration")
    val w = ServingWeights(1153585L, 1887563L, 15938730L, 6728523L)
    def stats(ivfRows: Long, lshRows: Long) = (
      Ann.probeIds(q, cents, nprobe = 3).map(_ -> ivfRows).toMap,
      Ann.probeBuckets(Ann.queryBucket(q, planes), planes.length, radius = 1)
        .map(_ -> lshRows).toMap)
    def choose(ivfRows: Long, lshRows: Long, n: Long) = {
      val (ivfS, lshS) = stats(ivfRows, lshRows)
      calibrated(priceServing(Seq(q),
        IvfCatalog.IvfIndex(cents, 3, ivfS),
        LshCatalog.LshIndex(planes, 1, lshS),
        GraphBound(nShards = 4, nprobe = 2, efSearch = 32),
        Some(PqFamily(n, m = 8, shortlist = 16))), w)
    }
    // the sf0.1-shaped regime: bytes pick the 16 KiB beam, the measured
    // ~15.6 μs/KiB beam cost hands the decision to the 65 KiB lsh scan
    val (bc, cc, _, lshB, hnswB, _, _, lshNs, hnswNs, pqNs) =
      choose(254L, 29L, 2000L)
    assert(bc == "hnsw" && cc == "lsh",
      s"models must disagree in the sf0.1 regime: byte=$bc cal=$cc")
    // exact integer cost arithmetic: ceil(bytes/1024) × nsPerKib
    assert(lshNs == ((lshB + 1023L) / 1024L) * w.lshNsPerKib)
    assert(hnswNs == ((hnswB + 1023L) / 1024L) * w.hnswNsPerKib)
    assert(lshNs < pqNs && pqNs < hnswNs)
    // big-corpus regime: the beam's constant cost wins BOTH channels
    val big = choose(125000L, 12500L, 1000000L)
    assert(big._1 == "hnsw" && big._2 == "hnsw")
    // missing probe stats: sticky ivf on both channels, -1 sentinels
    val fb = calibrated(priceServing(Seq(q),
      IvfCatalog.IvfIndex(cents, 3, Map.empty),
      LshCatalog.LshIndex(planes, 1, stats(10L, 10L)._2),
      GraphBound(nShards = 4, nprobe = 2, efSearch = 32),
      Some(PqFamily(500, m = 8, shortlist = 16))), w)
    assert(fb._1 == "ivf" && fb._2 == "ivf" && fb._3 == -1L && fb._7 == -1L)
  }

  test("chooseServingBatchFiltered: the decision flips on (B, s) JOINTLY; degenerate corners equal the parent models") {
    import graft.plans.{IvfCatalog, LshCatalog}
    val planes = Ann.signPlanes(dim = 64, nBits = 8)
    val cents = Ann.seededCentroids(emb, "embedding", "vec_id", nlist = 8)
    val batchOf = (n: Int) => Seq.fill(n)(q)
    def stats(rowsPerProbe: Long) = (
      Ann.probeIds(q, cents, nprobe = 3).map(_ -> rowsPerProbe).toMap,
      Ann.probeBuckets(Ann.queryBucket(q, planes), planes.length, radius = 1)
        .map(_ -> rowsPerProbe).toMap)
    def choose(b: Int, matchRows: Long, totalRows: Long,
               probeRows: Long = 100L) = {
      val (ivfS, lshS) = stats(probeRows)
      knobs(priceServing(batchOf(b),
        IvfCatalog.IvfIndex(cents, 3, ivfS),
        LshCatalog.LshIndex(planes, 1, lshS),
        GraphBound(nShards = 4, nprobe = 2, efSearch = 32),
        Some(PqFamily(totalRows, m = 8, shortlist = 16)),
        selectivity = Some(matchRows -> totalRows)))
    }
    // the joint grid (probe stats 100 rows/probe, corpus 10⁴):
    // B=1, s=1   → hnsw: one 16 kB beam beats 76.8 kB probes, 84 kB scan
    val (c11, _, _, _, _, ef11, sl11) = choose(1, 10000L, 10000L)
    assert(c11 == "hnsw" && ef11 == 32L && sl11 == 16L)
    // B=1, s=0.1 → ivf: the beam widens 10× (164 kB) and pq's rescore
    // widens to 121 kB — the selectivity-INVARIANT probe path wins.
    // SELECTIVITY ALONE flipped hnsw → ivf.
    val (c1s, i1s, _, h1s, p1s, ef1s, sl1s) = choose(1, 1000L, 10000L)
    assert(c1s == "ivf", s"selective small batch must probe: $c1s")
    assert(ef1s == 320L && sl1s == 160L && i1s == 76800L &&
      h1s == 163840L && p1s == 80000L + 40960L)
    // B=4, s=0.1 → pq: FOUR widened rescores (244 kB total) amortize
    // the one 80 kB scan below 4 probe scans (307 kB). BATCH SIZE
    // ALONE flipped ivf → pq at fixed selectivity.
    val (c4s, i4s, _, _, p4s, _, _) = choose(4, 1000L, 10000L)
    assert(c4s == "pq", s"batched selective queries must amortize: $c4s")
    assert(p4s == 80000L + 4L * 40960L && i4s == 4L * 76800L)
    // degenerate corners. Batch: with one query repeated B times the
    // per-query terms (probe rows, the beam) scale by exactly B, and pq
    // pays its code scan once.
    Seq(4, 32).foreach { b =>
      val (_, i1, l1, h1, p1, _, _) = choose(1, 1000L, 10000L)
      val (_, ib, lb, hb, pb, _, _) = choose(b, 1000L, 10000L)
      assert(ib == b * i1 && lb == b * l1 && hb == b * h1 &&
        pb == p1 + (b - 1L) * (p1 - 10000L * 8), s"B=$b corner is not batch-linear")
    }
    // Selectivity: match = total prices like no predicate while the
    // corpus holds at least efSearch rows — and NOT below it, where the
    // saturating knobs clamp the beam and the shortlist to the corpus
    // (why selectivity is optional rather than defaulted to (n, n))
    val (ivfS, lshS) = stats(100L)
    def unfiltered(b: Int, n: Long) = knobs(priceServing(batchOf(b),
      IvfCatalog.IvfIndex(cents, 3, ivfS), LshCatalog.LshIndex(planes, 1, lshS),
      GraphBound(nShards = 4, nprobe = 2, efSearch = 32),
      Some(PqFamily(n, m = 8, shortlist = 16))))
    Seq(1, 4, 32).foreach { b =>
      assert(choose(b, 10000L, 10000L) == unfiltered(b, 10000L),
        s"s=1 corner diverged at B=$b")
    }
    val (_, _, _, hSmall, pSmall, efSmall, slSmall) = choose(1, 10L, 10L)
    val (_, _, _, hNone, pNone, efNone, slNone) = unfiltered(1, 10L)
    assert(efSmall == 10L && slSmall == 10L && efNone == 32L && slNone == 16L)
    assert(hSmall == 2L * 10 * 256 && hNone == 2L * 32 * 256 && pSmall < pNone)
    // saturation + missing-stats discipline inherited
    val (cBig, _, _, hBig, pBig, efBig, _) = choose(2, 1L, 2_000_000_000L)
    assert(efBig == 2_000_000_000L && hBig > 0L && pBig > 0L && cBig != "hnsw")
    val fb = knobs(priceServing(batchOf(2),
      IvfCatalog.IvfIndex(cents, 3, Map.empty),
      LshCatalog.LshIndex(planes, 1, stats(100L)._2),
      GraphBound(nShards = 4, nprobe = 2, efSearch = 32),
      Some(PqFamily(500, m = 8, shortlist = 16)),
      selectivity = Some(50L -> 500L)))
    assert(fb._1 == "ivf" && fb._2 == -1L && fb._3 == -1L)
  }

  test("golden decision table: one pricing function reproduces the six per-gate choosers it replaced") {
    import ServingGoldenGrid.fingerprint
    val cs = ServingGoldenGrid.cases
    def price(c: ServingGoldenGrid.Case, b: Int, pq: Boolean, sel: Boolean) =
      priceServing(c.qvs.take(b), c.ivf, c.lsh, GraphBound(c.nShards, c.nprobe, c.efSearch),
        if (pq) Some(PqFamily(c.pqRows, c.pqM, c.pqShortlist)) else None,
        if (sel) Some(c.matchRows -> c.totalRows) else None)
    // md5 over each gate's full decision tuples on the whole grid, taken
    // from the per-gate choosers before they were folded into
    // priceServing (single-query gates price each case's first query)
    val got = Map(
      "three-way" -> fingerprint(cs.map(c => rows3(price(c, 1, pq = false, sel = false)))),
      "four-way" -> fingerprint(cs.map(c => bytes4(price(c, 1, pq = true, sel = false)))),
      "batch" -> fingerprint(cs.map(c => bytes4(price(c, c.qvs.length, pq = true, sel = false)))),
      "filtered" -> fingerprint(cs.map(c => knobs(price(c, 1, pq = true, sel = true)))),
      "calibrated" -> fingerprint(cs.map(c => calibrated(price(c, 1, pq = true, sel = false), c.w))),
      "batch-filtered" ->
        fingerprint(cs.map(c => knobs(price(c, c.qvs.length, pq = true, sel = true)))))
    val golden = Map(
      "three-way" -> "6a90c618a1d03658ed119bddb07b345a",
      "four-way" -> "771e03983b3197ec621be02ebcb13314",
      "batch" -> "f97bb0df83a52f68dc6a18a5fc530ad6",
      "filtered" -> "2b329eded7e09e595f77f34049880acd",
      "calibrated" -> "3dd3b2e116579a183303b80ba49b27ae",
      "batch-filtered" -> "045d5d618ccd91a2e58fedfbba585b72")
    assert(cs.length == 1028)
    val diverged = golden.keys.toSeq.sorted.filter(g => got(g) != golden(g))
    assert(diverged.isEmpty, s"decisions moved for ${diverged.map(g => s"$g (${got(g)})")}")
  }
}
