package graft.plans

import graft.functions.{CosineDistance, L2Distance}
import graft.operators.Ann
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import scala.collection.concurrent.TrieMap

/** Registry of IVF-indexed tables: storage path → (centroids, nprobe).
  * Registration is the EXPLICIT opt-in that allows [[IvfProbeRule]] to
  * trade exactness for probe pruning on that table (the rewrite is an
  * approximation — like choosing an ANN index in a vector DB, it never
  * happens implicitly).
  */
object IvfCatalog {
  /** `clusterRows` (cluster_id → stored row count, from one bounded
    * groupBy at index-build time) is the statistic the cost-based
    * choice reads when a table is registered in BOTH catalogs; empty =
    * no stats, the rule falls back to IVF precedence.
    */
  final case class IvfIndex(centroids: Array[Array[Float]], nprobe: Int,
                            clusterRows: Map[Int, Long] = Map.empty)

  private val indexes = TrieMap.empty[String, IvfIndex]

  private def normalize(path: String): String =
    path.stripSuffix("/").replaceFirst("^file:", "")

  def register(path: String, centroids: Array[Array[Float]], nprobe: Int,
               clusterRows: Map[Int, Long] = Map.empty): Unit =
    indexes.put(normalize(path), IvfIndex(centroids, nprobe, clusterRows))

  def unregister(path: String): Unit = indexes.remove(normalize(path))
  def clear(): Unit = indexes.clear()

  def lookup(rootPaths: Seq[String]): Option[IvfIndex] =
    rootPaths.map(normalize).flatMap(indexes.get).headOption
}

/** Registry of LSH-bucketed tables: storage path → (sign planes,
  * multi-probe radius). Same explicit-opt-in contract as [[IvfCatalog]]
  * — registration is what authorizes [[IvfProbeRule]] to trade
  * exactness for bucket pruning on that table.
  */
object LshCatalog {
  /** `bucketRows` — the LSH twin of `IvfIndex.clusterRows` (lsh_bucket
    * → stored row count); empty = no stats.
    */
  final case class LshIndex(planes: Array[Array[Float]], radius: Int,
                            bucketRows: Map[Long, Long] = Map.empty)

  private val indexes = TrieMap.empty[String, LshIndex]

  private def normalize(path: String): String =
    path.stripSuffix("/").replaceFirst("^file:", "")

  def register(path: String, planes: Array[Array[Float]], radius: Int,
               bucketRows: Map[Long, Long] = Map.empty): Unit =
    indexes.put(normalize(path), LshIndex(planes, radius, bucketRows))

  def unregister(path: String): Unit = indexes.remove(normalize(path))
  def clear(): Unit = indexes.clear()

  def lookup(rootPaths: Seq[String]): Option[LshIndex] =
    rootPaths.map(normalize).flatMap(indexes.get).headOption
}

/** Transparent exact-KNN → IVF-probe rewrite (SURVEY §4's optional
  * optimizer extension): a logical plan of the shape
  *
  * {{{ Limit k ← Sort [cosine_distance(vec, LITERAL) ASC, …] ← … ← scan(T) }}}
  *
  * where `T`'s storage path is registered in [[IvfCatalog]] and carries
  * the index's `cluster_id` column, gains a
  * `cluster_id IN (nearest nprobe centroids of LITERAL)` filter above
  * the scan — which cluster-partitioned storage turns into partition
  * pruning. Tables registered in [[LshCatalog]] (sign-plane buckets,
  * `lsh_bucket` column) get the analogous
  * `lsh_bucket IN (hamming-≤radius probe set of LITERAL's bucket)`
  * filter — one rule, two index families, same opt-in contract. A table
  * registered in BOTH catalogs (hybrid cluster_id/lsh_bucket-partitioned
  * store) gets the CHEAPER filter for the query at hand, by the exact
  * per-partition row counts registered with each index ([[chooseIndex]]).
  * The top-k semantics stay `TakeOrderedAndProject`; only the
  * scanned fraction changes (~nprobe/nlist). Applies once
  * (idempotent by construction: the injected filter is recognized on
  * re-entry).
  *
  * Enabled via `GraftExtensions` (injectOptimizerRule) or
  * `spark.experimental.extraOptimizations` (GraftSession.prepare).
  */
object IvfProbeRule extends Rule[LogicalPlan] {

  /** The IVF and LSH probe sets of `qv`, and the rows each would scan by
    * the per-partition row counts registered with the indexes: Σ
    * clusterRows over the nprobe nearest lists, Σ bucketRows over the
    * hamming-≤radius bucket set. The stats are exact counts taken at
    * build time, so an estimate IS the scanned-row count. Both row
    * counts are -1 when either index has no stats.
    */
  private def probeRows(qv: Array[Float], ivf: IvfCatalog.IvfIndex,
                        lsh: LshCatalog.LshIndex): (Seq[Int], Seq[Long], Long, Long) = {
    val ivfProbes = Ann.probeIds(qv, ivf.centroids, ivf.nprobe)
    val lshProbes = Ann.probeBuckets(
      Ann.queryBucket(qv, lsh.planes), lsh.planes.length, lsh.radius)
    if (ivf.clusterRows.isEmpty || lsh.bucketRows.isEmpty)
      (ivfProbes, lshProbes, -1L, -1L)
    else
      (ivfProbes, lshProbes,
        ivfProbes.map(c => ivf.clusterRows.getOrElse(c, 0L)).sum,
        lshProbes.map(b => lsh.bucketRows.getOrElse(b, 0L)).sum)
  }

  /** Cost-based index selection when ONE table is registered in BOTH
    * catalogs (a hybrid store partitioned by cluster_id AND lsh_bucket):
    * the rows each index would scan for THIS query vector
    * ([[probeRows]]), and the smaller scan wins, through the serving
    * model's argmin ([[FamilyCosts.chosen]]). At 100 TB "transparent"
    * means the optimizer makes this choice, not the user. Missing stats
    * on either side (or a tie) fall back to IVF precedence — the
    * pruning+compression default, and the pre-stats behavior. Returns
    * (chosen, ivfProbes, lshProbes) so the registered query can surface
    * the decision as a gated column.
    */
  def chooseIndex(qv: Array[Float], ivf: IvfCatalog.IvfIndex,
                  lsh: LshCatalog.LshIndex): (String, Seq[Int], Seq[Long]) = {
    val (ivfProbes, lshProbes, ivfRows, lshRows) = probeRows(qv, ivf, lsh)
    // no graph or PQ family here: the graph is priced out of the argmin
    (FamilyCosts(ivfRows, lshRows, hnsw = Long.MaxValue, pq = None).chosen,
      ivfProbes, lshProbes)
  }

  /** The routed graph's search knobs: a query beams its
    * min(nShards, nprobe) centroid-nearest shards, each emitting ≤
    * efSearch candidates to the exact re-rank.
    */
  final case class GraphBound(nShards: Int, nprobe: Int, efSearch: Int)

  /** The PQ/ADC family: the codes store's row count, its m code bytes per
    * row, and the per-query shortlist the exact rescore reads.
    */
  final case class PqFamily(corpusRows: Long, m: Int, shortlist: Int)

  /** One price per index family — bytes read, or weighted ns — with pq
    * None where the PQ family is not a candidate. -1 for ivf and lsh
    * means "no probe stats".
    */
  final case class FamilyCosts(ivf: Long, lsh: Long, hnsw: Long, pq: Option[Long]) {
    /** The one argmin, with IVF precedence on ties: pq only when strictly
      * cheaper than all three others, hnsw when strictly below both
      * probe paths, lsh when strictly below ivf, else ivf. Missing probe
      * stats stay sticky on ivf (ADVICE r18, deliberate): with the probe
      * paths unpriceable the router cannot certify that pq/hnsw beat
      * them, IVF degrades gracefully (bounded by the nprobe/nlist
      * fraction of the corpus), and a stats hiccup must not flip the
      * serving family.
      */
    def chosen: String =
      if (ivf < 0 || lsh < 0) "ivf"
      else if (pq.exists(p => p < ivf && p < lsh && p < hnsw)) "pq"
      else if (hnsw < ivf && hnsw < lsh) "hnsw"
      else if (lsh < ivf) "lsh"
      else "ivf"
  }

  /** A priced serving request: per-family byte totals for the whole
    * batch, the beam width and shortlist after selectivity widening
    * (`efEff`, `slEff`; the unwidened knobs when unfiltered, and slEff 0
    * without a PQ family), and the bytes of one full-precision vector.
    */
  final case class ServingPrice(bytes: FamilyCosts, efEff: Long, slEff: Long,
                                vecBytes: Long) {
    def chosen: String = bytes.chosen

    /** A byte total as rows reaching the exact re-rank (-1 stays -1). */
    def rows(b: Long): Long = if (b < 0) b else b / vecBytes

    /** The LATENCY-CALIBRATED form (r19 verdict #6): each byte total
      * weighted by its family's measured ns/KiB, as the exact integer
      * ceil(bytes/1024) × nsPerKib (KiB granularity keeps the product
      * inside BIGINT out to petabyte scans). Bytes-read is a portable
      * unit but not a clock: the routed beam pays per-candidate random
      * access and per-shard dispatch (~15.6 μs/KiB at sf0.1) while the
      * probe paths stream columnar partitions (~1.1–1.9 μs/KiB), so the
      * byte argmin and this one genuinely disagree (RECALL.md "Serving
      * latency calibration"). Its `chosen` is the same argmin.
      */
    def weighted(w: ServingWeights): FamilyCosts = {
      def ns(b: Long, nsPerKib: Long): Long =
        if (b < 0) -1L else ((b + 1023L) / 1024L) * nsPerKib
      FamilyCosts(ns(bytes.ivf, w.ivfNsPerKib), ns(bytes.lsh, w.lshNsPerKib),
        ns(bytes.hnsw, w.hnswNsPerKib), bytes.pq.map(ns(_, w.pqNsPerKib)))
    }
  }

  /** THE serving-layer cost model: prices a batch of B ≥ 1 queries on
    * every index family in BYTES READ FROM STORES — the unit a 100 TB
    * scan actually pays, and the only one comparable across families
    * (PQ scans every row but at m code bytes instead of dim·4 vector
    * bytes):
    *   - IVF / LSH: Σ over the batch's per-query probe rows
    *     ([[probeRows]]) × dim·4;
    *   - routed graph: B × min(nShards, nprobe) × efEff × dim·4 — the
    *     closed-form re-rank bound, constant in corpus size (the graph
    *     never gets a Catalyst rewrite, so this choice lives in the
    *     serving layer, above the optimizer);
    *   - PQ/ADC (when `pq` is given): corpusRows × m + B × slEff × dim·4
    *     — one shared code scan plus per-query shortlist rescores.
    * What each input changes:
    *   - B: the probe paths and the graph pay per query, PQ's code scan
    *     is paid once, so batch size alone flips hnsw (small batches)
    *     to pq (large ones) — `ann_cost_serving_batch`;
    *   - selectivity (matchRows, totalRows), for a predicate + KNN
    *     query: probe partitions are read in full either way (bytes
    *     unchanged), but the predicate-blind beam must widen to
    *     efEff = min(total, ⌈ef·total/match⌉) to surface k survivors and
    *     the PQ shortlist to slEff = min(total, ⌈sl·total/match⌉), so a
    *     selective predicate prices the graph out first —
    *     `ann_cost_serving_filtered`, jointly with B in
    *     `ann_cost_serving_batch_filtered`. The knobs are integer
    *     ceilings both engines replay bit-for-bit, Long, and saturate at
    *     totalRows (ADVICE r19: an Int ceiling at a 2e9-row / 1-match
    *     ratio wrapped to a negative beam that won every comparison).
    *     Absent means unfiltered, NOT match = total: that pair still
    *     clamps the knobs to totalRows, which bites below efSearch rows;
    *   - weights: [[ServingPrice.weighted]] turns the bytes into
    *     measured ns for `ann_cost_serving_calibrated`.
    * The choice is [[FamilyCosts.chosen]]; missing probe stats price the
    * probe paths at -1 and stay on ivf.
    */
  def priceServing(qvs: Seq[Array[Float]], ivf: IvfCatalog.IvfIndex,
                   lsh: LshCatalog.LshIndex, graph: GraphBound,
                   pq: Option[PqFamily] = None,
                   selectivity: Option[(Long, Long)] = None): ServingPrice = {
    require(qvs.nonEmpty, "pricing needs at least one query")
    selectivity.foreach { case (m, n) =>
      require(m > 0 && m <= n, s"selectivity pair out of range: $m / $n")
    }
    val vecBytes = qvs.head.length.toLong * 4
    val b = qvs.length.toLong
    def widened(knob: Long): Long = selectivity match {
      case Some((m, n)) => math.min(n, (knob * n + m - 1) / m)
      case None         => knob
    }
    val efEff = widened(graph.efSearch)
    val slEff = pq.fold(0L)(f => widened(f.shortlist))
    val probes = qvs.map(probeRows(_, ivf, lsh))
    val (ivfB, lshB) =
      if (probes.head._3 < 0) (-1L, -1L)
      else (probes.map(_._3).sum * vecBytes, probes.map(_._4).sum * vecBytes)
    val hnswB = b * math.min(graph.nShards, graph.nprobe).toLong * efEff * vecBytes
    ServingPrice(
      FamilyCosts(ivfB, lshB, hnswB, pq.map(f => f.corpusRows * f.m + b * slEff * vecBytes)),
      efEff, slEff, vecBytes)
  }

  /** Execution-SHAPE choice inside the pq family for a batch of B
    * queries (r20 probe finding): the amortized single-pass
    * `Pq.batchShortlist` and B per-query TakeOrdered scans read the
    * same number of ROWS and do the same ADC arithmetic, but their
    * wall-clock inverts with the CACHE REGIME — measured at 2M codes ×
    * 32 queries (cache-resident), B zero-shuffle TakeOrdered scans ran
    * ~2.4× FASTER than the shared pass (whose extra cost is the
    * map-side sort feeding WindowGroupLimit), while in the I/O-bound
    * regime (codes ≫ cache, the 100 TB serving tier) B passes pay B×
    * disk reads and the shared scan wins by the full amortization.
    * (The 2.4× was measured against the OLD shared pass, a sorted
    * window rank over a codes × queries join; the shared pass is now a
    * per-task heap per query with no sort, which that measurement does
    * not cover. The rule is unchanged.)
    * The switch is one integer comparison the oracle replays:
    * codesBytes = corpusRows × m vs the deployment's cache budget
    * (hardware data, like [[ServingWeights]]); B = 1 is always
    * per-query — a single TakeOrdered scan strictly dominates a
    * one-query window plan (zero amortization to buy). Returns
    * (shape, codesBytes). Both shapes produce IDENTICAL results (the
    * ADC selection contract) — `ann_pq_shape_adaptive` executes both
    * and hashes them against one oracle ranking.
    */
  def choosePqBatchShape(pqCorpusRows: Long, pqM: Int, b: Int,
                         cacheBudgetBytes: Long): (String, Long) = {
    require(b >= 1, s"batch size must be >= 1, got $b")
    val codesBytes = pqCorpusRows * pqM
    val shape =
      if (b > 1 && codesBytes > cacheBudgetBytes) "shared" else "perquery"
    (shape, codesBytes)
  }

  /** Measured per-family serving cost weights in NANOSECONDS PER KiB
    * READ — the latency calibration [[ServingPrice.weighted]]
    * multiplies into the byte model. Derived by the
    * `graft.queries.CalibrateServing` probe (median of warm single-query
    * runs over the gate stores, divided by the priced bytes); treated
    * as DATA like an index's centroids — re-derive on new hardware,
    * record in RECALL.md.
    */
  final case class ServingWeights(ivfNsPerKib: Long, lshNsPerKib: Long,
                                  hnswNsPerKib: Long, pqNsPerKib: Long)

  /** Extract the float array of a typed array literal (query vector). */
  private def literalVector(e: Expression): Option[Array[Float]] = e match {
    case Literal(data: ArrayData, ArrayType(FloatType, _)) => Some(data.toFloatArray())
    case Literal(data: ArrayData, ArrayType(DoubleType, _)) =>
      Some(data.toDoubleArray().map(_.toFloat))
    case _ => None
  }

  /** The query vector of a distance-ASC sort head, resolved through an
    * intervening Project if the distance is a projected alias.
    */
  private def sortQueryVector(order: Seq[SortOrder], child: LogicalPlan): Option[Array[Float]] = {
    // try BOTH argument positions: users write cosine_distance(col, q)
    // and cosine_distance(q, col) interchangeably (the metric is
    // symmetric). The previous two-case form was unreachable for the
    // second pattern (the first matched every node), so a literal-first
    // call silently never got the index rewrite.
    def fromExpr(e: Expression): Option[Array[Float]] = e match {
      case CosineDistance(l, r) => literalVector(r).orElse(literalVector(l))
      case L2Distance(l, r)     => literalVector(r).orElse(literalVector(l))
      case _                    => None
    }
    order.headOption.filter(_.direction == Ascending).flatMap { so =>
      so.child match {
        case a: Attribute =>
          child.collectFirst {
            case Project(projList, _) if projList.exists(p =>
              p.exprId == a.exprId && fromExpr(p match {
                case Alias(ae, _) => ae
                case other        => other
              }).isDefined) =>
              projList.collectFirst {
                case al @ Alias(ae, _) if al.exprId == a.exprId => fromExpr(ae)
              }.flatten
          }.flatten
        case e => fromExpr(e)
      }
    }
  }

  private def indexOf(rel: LogicalRelation): Option[IvfCatalog.IvfIndex] =
    rel.relation match {
      case fs: HadoopFsRelation =>
        IvfCatalog.lookup(fs.location.rootPaths.map(_.toString))
      case _ => None
    }

  private def lshIndexOf(rel: LogicalRelation): Option[LshCatalog.LshIndex] =
    rel.relation match {
      case fs: HadoopFsRelation =>
        LshCatalog.lookup(fs.location.rootPaths.map(_.toString))
      case _ => None
    }

  /** True if a probe filter on the index column already guards a
    * registered relation anywhere below (idempotence across optimizer
    * re-runs, AND the guard that keeps the rule's hands off a scan the
    * caller probed MANUALLY) — cluster_id for IVF tables, lsh_bucket
    * for LSH tables. Matches BOTH literal-set forms: `In`, and the
    * `InSet` that OptimizeIn rewrites it to above
    * spark.sql.optimizer.inSetConversionThreshold (default 10) — a
    * radius-2 multi-probe is 37 buckets, so without the InSet case the
    * rule re-fired on manually-probed scans and silently intersected
    * them with its own probe set (caught round 20 by
    * ann_cost_serving_calibrated's 9-vs-10-row hash mismatch in the
    * full suite, where ann_cost_rewrite had registered the store).
    */
  private def alreadyProbed(plan: LogicalPlan): Boolean = plan.exists {
    case Filter(cond, rel: LogicalRelation)
        if indexOf(rel).isDefined || lshIndexOf(rel).isDefined =>
      cond.exists {
        case In(a: Attribute, _) => a.name == "cluster_id" || a.name == "lsh_bucket"
        case InSet(a: Attribute, _) => a.name == "cluster_id" || a.name == "lsh_bucket"
        case _                   => false
      }
    case _ => false
  }

  /** The global Sort directly under the limit, looking through the
    * column-pruning Projects the optimizer interposes.
    */
  private def findSort(p: LogicalPlan): Option[Sort] = p match {
    case s: Sort if s.global => Some(s)
    case pr: Project         => findSort(pr.child)
    case _                   => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case limit @ GlobalLimit(_, ll @ LocalLimit(_, inner)) if !alreadyProbed(inner) =>
      (for {
        sort <- findSort(inner)
        qv <- sortQueryVector(sort.order, sort.child)
      } yield {
        // partition discovery may have inferred the bucket column as
        // INT (small values) — literals must match the attribute's
        // type or the resolved plan becomes unresolved
        def lshFilter(rel: LogicalRelation, probes: Seq[Long]): Filter = {
          val bucketAttr = rel.output.find(_.name == "lsh_bucket").get
          val lits = probes.map { b =>
            bucketAttr.dataType match {
              case org.apache.spark.sql.types.LongType    => Literal(b)
              case org.apache.spark.sql.types.IntegerType => Literal(b.toInt)
              case other => Cast(Literal(b), other)
            }
          }
          Filter(In(bucketAttr, lits), rel)
        }
        def ivfFilter(rel: LogicalRelation, probes: Seq[Int]): Filter = {
          val clusterAttr = rel.output.find(_.name == "cluster_id").get
          Filter(In(clusterAttr, probes.map(p => Literal(p))), rel)
        }
        limit.transformUp {
          // hybrid store registered in BOTH catalogs: cost-based choice
          // (must precede the single-index cases — they would match too)
          case rel: LogicalRelation
              if indexOf(rel).isDefined && lshIndexOf(rel).isDefined &&
                rel.output.exists(_.name == "cluster_id") &&
                rel.output.exists(_.name == "lsh_bucket") =>
            val (chosen, ivfProbes, lshProbes) =
              chooseIndex(qv, indexOf(rel).get, lshIndexOf(rel).get)
            if (chosen == "lsh") lshFilter(rel, lshProbes)
            else ivfFilter(rel, ivfProbes)
          case rel: LogicalRelation
              if indexOf(rel).isDefined && rel.output.exists(_.name == "cluster_id") =>
            val idx = indexOf(rel).get
            ivfFilter(rel, Ann.probeIds(qv, idx.centroids, idx.nprobe))
          case rel: LogicalRelation
              if lshIndexOf(rel).isDefined && rel.output.exists(_.name == "lsh_bucket") =>
            val idx = lshIndexOf(rel).get
            lshFilter(rel, Ann.probeBuckets(
              Ann.queryBucket(qv, idx.planes), idx.planes.length, idx.radius))
        }
      }).getOrElse(limit)
  }
}
