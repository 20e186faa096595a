package graft

import graft.operators.Ann
import graft.plans.{IvfCatalog, LshCatalog}
import graft.plans.IvfProbeRule.ServingWeights

/** A seeded synthetic grid of serving-cost inputs, for pinning every
  * decision and estimate of the serving cost model by fingerprint. It
  * covers random IVF/LSH stats at dim 64 and 384, batch sizes 1, 2, 5
  * and 32, the selectivity corners (match = total, total below
  * efSearch, a 1-in-2e9 predicate that saturates the widened knobs),
  * missing probe stats, an exact tie between every pair of families at
  * the minimum, and both the calibrated gate's weights and flat weights.
  * Pure driver arithmetic: no Spark.
  */
object ServingGoldenGrid {

  final case class Case(qvs: Seq[Array[Float]], ivf: IvfCatalog.IvfIndex,
                        lsh: LshCatalog.LshIndex, nShards: Int, nprobe: Int,
                        efSearch: Int, dim: Int, pqRows: Long, pqM: Int,
                        pqShortlist: Int, matchRows: Long, totalRows: Long,
                        w: ServingWeights)

  /** The calibrated gate's measured weights (ns/KiB). */
  val GateWeights = ServingWeights(1153585L, 1887563L, 15938730L, 6728523L)
  private val FlatWeights = ServingWeights(1000L, 1000L, 1000L, 1000L)

  private def gaussian(rnd: scala.util.Random, dim: Int): Array[Float] =
    Array.fill(dim)(rnd.nextGaussian().toFloat)

  /** Random cases: every (dim, B, selectivity corner) combination, 25
    * draws of the remaining inputs each.
    */
  private def randomCases(rnd: scala.util.Random): Seq[Case] =
    for {
      dim <- Seq(64, 384)
      planes = Ann.signPlanes(dim, nBits = 8)
      cents = Array.fill(8)(gaussian(rnd, dim))
      b <- Seq(1, 2, 5, 32)
      sel <- 0 until 5
      _ <- 0 until 25
    } yield {
      val rowScale = Seq(20, 60, 200, 2000)(rnd.nextInt(4))
      val clusterRows = (0 until 8).map(c => c -> rnd.nextInt(rowScale).toLong).toMap
      val bucketRows = (0 until 256).filter(_ => rnd.nextInt(4) != 0)
        .map(bk => bk.toLong -> rnd.nextInt(math.max(1, rowScale / 4)).toLong).toMap
      val (ivfRows, lshRows) = rnd.nextInt(8) match {
        case 0 => (Map.empty[Int, Long], bucketRows)
        case 1 => (clusterRows, Map.empty[Long, Long])
        case 2 => (Map.empty[Int, Long], Map.empty[Long, Long])
        case _ => (clusterRows, bucketRows)
      }
      val (nShards, nprobe, ef) = Seq((4, 2, 32), (8, 3, 16), (2, 4, 64))(rnd.nextInt(3))
      val (pqRows, pqM, pqSl) =
        Seq((500L, 8, 16), (2000L, 8, 16), (10000L, 16, 64), (1000000L, 8, 16))(rnd.nextInt(4))
      val (m, n) = sel match {
        case 0 => (pqRows, pqRows)
        case 1 => (math.max(1L, pqRows / 10), pqRows)
        case 2 => (5L, 10L)
        case 3 => (10L, 10L)
        case _ => (1L, 2000000000L)
      }
      Case(Seq.fill(b)(gaussian(rnd, dim)),
        IvfCatalog.IvfIndex(cents, 1 + 2 * rnd.nextInt(2), ivfRows),
        LshCatalog.LshIndex(planes, 1 + rnd.nextInt(2), lshRows),
        nShards, nprobe, ef, dim, pqRows, pqM, pqSl, m, n,
        if (rnd.nextBoolean()) GateWeights else FlatWeights)
    }

  /** Exact ties at the minimum between every pair of families (and all
    * four at once), at B = 1 and 2 with one repeated query, dim 64: the
    * stats put each probe path's rows on its first probe, the graph bound
    * is 2·32 = 64 candidates per query, and the pq corpus is solved for
    * the tied bytes. Families outside the tie are priced far above it.
    */
  private def tieCases(rnd: scala.util.Random): Seq[Case] = {
    val dim = 64
    val vb = dim * 4L
    val planes = Ann.signPlanes(dim, nBits = 8)
    val cents = Array.fill(8)(gaussian(rnd, dim))
    val q = gaussian(rnd, dim)
    val ivfProbes = Ann.probeIds(q, cents, nprobe = 3)
    val lshProbes = Ann.probeBuckets(Ann.queryBucket(q, planes), planes.length, radius = 1)
    val far = 100000L
    val ties = Seq(Set("ivf", "lsh"), Set("ivf", "hnsw"), Set("ivf", "pq"),
      Set("lsh", "hnsw"), Set("lsh", "pq"), Set("hnsw", "pq"),
      Set("ivf", "lsh", "hnsw", "pq"))
    for {
      b <- Seq(1, 2)
      tie <- ties
      w <- Seq(FlatWeights, GateWeights)
    } yield {
      // per-query rows of the tie: the graph's bound when it takes part,
      // else 40 rows (below the bound)
      val rows = if (tie("hnsw")) 64L else 40L
      def probeRows(fam: String) = if (tie(fam)) rows else far
      val clusterRows = ivfProbes.zipWithIndex.map { case (c, i) =>
        c -> (if (i == 0) probeRows("ivf") else 0L) }.toMap
      val bucketRows = lshProbes.zipWithIndex.map { case (bk, i) =>
        bk -> (if (i == 0) probeRows("lsh") else 0L) }.toMap
      val ef = if (tie("hnsw")) 32 else 32000
      // pq bytes = N·8 + B·16·vb, solved for B·rows·vb when tied
      val pqRows = if (tie("pq")) (b * rows * vb - b * 16L * vb) / 8 else 10000000L
      Case(Seq.fill(b)(q), IvfCatalog.IvfIndex(cents, 3, clusterRows),
        LshCatalog.LshIndex(planes, 1, bucketRows), 4, 2, ef, dim,
        pqRows, 8, 16, pqRows, pqRows, w)
    }
  }

  /** The whole grid, in a fixed order. */
  lazy val cases: Seq[Case] = {
    val rnd = new scala.util.Random(20261019L)
    randomCases(rnd) ++ tieCases(rnd)
  }

  /** md5 (hex) over one line per case: its index and the result. */
  def fingerprint(results: Seq[Any]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    results.zipWithIndex.foreach { case (r, i) =>
      md.update(s"$i:$r\n".getBytes("UTF-8"))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
