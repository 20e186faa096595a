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

  /** Cost-based index selection when ONE table is registered in BOTH
    * catalogs (a hybrid store partitioned by cluster_id AND lsh_bucket):
    * estimate the rows each index would scan for THIS query vector —
    * Σ clusterRows over the nprobe nearest lists vs Σ bucketRows over
    * the hamming-≤radius probe set — and pick the smaller scan. The
    * stats are exact per-partition row counts registered at build time,
    * so the estimate IS the scanned-row count, not a heuristic; at
    * 100 TB "transparent" means the optimizer makes this choice, not
    * the user. Missing stats on either side (or a tie) fall back to
    * IVF precedence — the pruning+compression default, and the
    * pre-stats behavior. Returns (chosen, ivfProbes, lshProbes) so the
    * registered query can surface the decision as a gated column.
    */
  def chooseIndex(qv: Array[Float], ivf: IvfCatalog.IvfIndex,
                  lsh: LshCatalog.LshIndex): (String, Seq[Int], Seq[Long]) = {
    val ivfProbes = Ann.probeIds(qv, ivf.centroids, ivf.nprobe)
    val lshProbes = Ann.probeBuckets(
      Ann.queryBucket(qv, lsh.planes), lsh.planes.length, lsh.radius)
    val chosen =
      if (ivf.clusterRows.isEmpty || lsh.bucketRows.isEmpty) "ivf"
      else {
        val ivfRows = ivfProbes.map(c => ivf.clusterRows.getOrElse(c, 0L)).sum
        val lshRows = lshProbes.map(b => lsh.bucketRows.getOrElse(b, 0L)).sum
        if (lshRows < ivfRows) "lsh" else "ivf"
      }
    (chosen, ivfProbes, lshProbes)
  }

  /** Three-way serving-layer cost choice: [[chooseIndex]]'s scanned-row
    * estimates for IVF and LSH, extended with the graph family. A
    * routed HNSW's cost unit is the same — rows reaching the exact
    * re-rank — and it is a CLOSED FORM of the search knobs:
    * ≤ min(nShards, nprobe)·efSearch candidates regardless of corpus
    * size (each routed shard's beam emits ≤ efSearch ids). The graph
    * path never gets a transparent Catalyst rewrite (deriving its probe
    * set requires a distributed beam — the documented no-rewrite
    * rationale at Nsw.scala), so this choice lives in the SERVING
    * layer, above the optimizer: a query router calls it per query and
    * dispatches to the IVF/LSH probe filter or the HNSW beam API.
    * Decision: HNSW when its bound is STRICTLY below both row
    * estimates, else LSH when strictly below IVF, else IVF — the same
    * IVF-precedence tie rule as [[chooseIndex]], and the same
    * missing-stats fallback (no stats → IVF). Returns
    * (chosen, ivfRows, lshRows, hnswCands) so the registered query can
    * gate all three estimates, not just the winner.
    */
  def chooseServing(qv: Array[Float], ivf: IvfCatalog.IvfIndex,
                    lsh: LshCatalog.LshIndex, hnswShards: Int,
                    hnswNprobe: Int, efSearch: Int): (String, Long, Long, Long) = {
    val ivfProbes = Ann.probeIds(qv, ivf.centroids, ivf.nprobe)
    val lshProbes = Ann.probeBuckets(
      Ann.queryBucket(qv, lsh.planes), lsh.planes.length, lsh.radius)
    val hnswCands = math.min(hnswShards, hnswNprobe).toLong * efSearch
    if (ivf.clusterRows.isEmpty || lsh.bucketRows.isEmpty)
      ("ivf", -1L, -1L, hnswCands)
    else {
      val ivfRows = ivfProbes.map(c => ivf.clusterRows.getOrElse(c, 0L)).sum
      val lshRows = lshProbes.map(b => lsh.bucketRows.getOrElse(b, 0L)).sum
      val chosen =
        if (hnswCands < ivfRows && hnswCands < lshRows) "hnsw"
        else if (lshRows < ivfRows) "lsh"
        else "ivf"
      (chosen, ivfRows, lshRows, hnswCands)
    }
  }

  /** FOUR-way serving cost choice — [[chooseServing]] extended with the
    * PQ/ADC path (r17 verdict #1a). Rows are no longer comparable
    * across all four families (PQ scans EVERY row but at m code bytes
    * instead of dim·4 vector bytes), so the unit becomes BYTES READ
    * FROM STORES, the thing a 100 TB scan actually pays:
    *   - IVF / LSH: probed rows × dim·4 (full-precision vector scan of
    *     the probe partitions);
    *   - routed HNSW: the closed-form candidate bound
    *     min(nShards, nprobe)·efSearch × dim·4 (the exact re-rank
    *     reads; constant in corpus size);
    *   - PQ/ADC: corpusRows × m codes bytes + shortlist × dim·4
    *     rescore bytes — linear in corpus size but at a 4·dim/m byte
    *     discount, so it wins exactly the regime where probe
    *     selectivity is poor and the graph's constant bound has not
    *     yet paid off.
    * Ties keep the established precedence (ivf default, lsh must be
    * strictly cheaper, hnsw strictly cheaper than both probe paths, pq
    * strictly cheaper than all three); missing probe stats fall back
    * to IVF exactly like [[chooseServing]]. The fallback stays IVF even
    * though the HNSW and PQ bounds are computable without probe stats
    * (ADVICE r18, deliberate): with the probe paths unpriceable the
    * router cannot certify that pq/hnsw actually beat them, IVF
    * degrades gracefully (bounded by the nprobe/nlist fraction of the
    * corpus), and a stats hiccup must not flip the serving family —
    * index choice stays sticky under partial information, matching
    * [[chooseIndex]]/[[chooseServing]] precedent (IvfProbeRuleSpec pins
    * this). Returns (chosen, ivfBytes, lshBytes, hnswBytes, pqBytes) so
    * a gated query can replay the whole decision.
    */
  def chooseServing4(qv: Array[Float], ivf: IvfCatalog.IvfIndex,
                     lsh: LshCatalog.LshIndex, hnswShards: Int,
                     hnswNprobe: Int, efSearch: Int, dim: Int,
                     pqCorpusRows: Long, pqM: Int, pqShortlist: Int)
      : (String, Long, Long, Long, Long) = {
    val vecBytes = dim.toLong * 4
    val hnswBytes = math.min(hnswShards, hnswNprobe).toLong * efSearch * vecBytes
    val pqBytes = pqCorpusRows * pqM + pqShortlist.toLong * vecBytes
    if (ivf.clusterRows.isEmpty || lsh.bucketRows.isEmpty)
      ("ivf", -1L, -1L, hnswBytes, pqBytes)
    else {
      val ivfProbes = Ann.probeIds(qv, ivf.centroids, ivf.nprobe)
      val lshProbes = Ann.probeBuckets(
        Ann.queryBucket(qv, lsh.planes), lsh.planes.length, lsh.radius)
      val ivfBytes = ivfProbes.map(c => ivf.clusterRows.getOrElse(c, 0L)).sum * vecBytes
      val lshBytes = lshProbes.map(b => lsh.bucketRows.getOrElse(b, 0L)).sum * vecBytes
      val chosen =
        if (pqBytes < ivfBytes && pqBytes < lshBytes && pqBytes < hnswBytes) "pq"
        else if (hnswBytes < ivfBytes && hnswBytes < lshBytes) "hnsw"
        else if (lshBytes < ivfBytes) "lsh"
        else "ivf"
      (chosen, ivfBytes, lshBytes, hnswBytes, pqBytes)
    }
  }

  /** BATCH-aware serving cost choice — [[chooseServing4]] priced for a
    * whole query batch instead of a single query (r18 verdict #1),
    * because the economics INVERT with batch size: PQ's corpus scan is
    * ONE ADC pass over the codes column no matter how many queries ride
    * it (each row's per-query distance is a table lookup — CPU, not
    * bytes), so its N·m scan bytes AMORTIZE across the batch, while the
    * probe paths and the graph router pay per query. Total bytes for a
    * batch of B queries:
    *   - IVF / LSH: Σ over the batch's per-query probe sets × dim·4
    *     (each query scans its own probe partitions);
    *   - routed HNSW: B × min(nShards, nprobe)·efSearch × dim·4
    *     (the closed-form re-rank bound, per query);
    *   - PQ/ADC: corpusRows × m  +  B × shortlist × dim·4 (one shared
    *     code scan + per-query shortlist rescores).
    * Consequence: hnsw wins the SMALL-batch regime once the corpus is
    * large enough that one code scan costs more than a few routed
    * beams, and pq wins the LARGE-batch regime where the shared scan
    * amortizes below B beams — the decision must flip on batch size
    * alone, which `ann_cost_serving_batch` gates and
    * IvfProbeRuleSpec pins on synthetic stats. Tie/fallback discipline
    * is [[chooseServing4]]'s verbatim (ivf default; missing probe stats
    * → ivf with -1 probe estimates — same stickiness rationale).
    * Returns (chosen, ivfBytes, lshBytes, hnswBytes, pqBytes) — TOTAL
    * batch bytes per family, so a gated query can replay the decision.
    */
  def chooseServingBatch(qvs: Seq[Array[Float]], ivf: IvfCatalog.IvfIndex,
                         lsh: LshCatalog.LshIndex, hnswShards: Int,
                         hnswNprobe: Int, efSearch: Int, dim: Int,
                         pqCorpusRows: Long, pqM: Int, pqShortlist: Int)
      : (String, Long, Long, Long, Long) = {
    require(qvs.nonEmpty, "chooseServingBatch needs at least one query")
    val vecBytes = dim.toLong * 4
    val b = qvs.length.toLong
    val hnswBytes =
      b * math.min(hnswShards, hnswNprobe).toLong * efSearch * vecBytes
    val pqBytes = pqCorpusRows * pqM + b * pqShortlist.toLong * vecBytes
    if (ivf.clusterRows.isEmpty || lsh.bucketRows.isEmpty)
      ("ivf", -1L, -1L, hnswBytes, pqBytes)
    else {
      val ivfBytes = qvs.map { qv =>
        Ann.probeIds(qv, ivf.centroids, ivf.nprobe)
          .map(c => ivf.clusterRows.getOrElse(c, 0L)).sum
      }.sum * vecBytes
      val lshBytes = qvs.map { qv =>
        Ann.probeBuckets(Ann.queryBucket(qv, lsh.planes),
            lsh.planes.length, lsh.radius)
          .map(bk => lsh.bucketRows.getOrElse(bk, 0L)).sum
      }.sum * vecBytes
      val chosen =
        if (pqBytes < ivfBytes && pqBytes < lshBytes && pqBytes < hnswBytes) "pq"
        else if (hnswBytes < ivfBytes && hnswBytes < lshBytes) "hnsw"
        else if (lshBytes < ivfBytes) "lsh"
        else "ivf"
      (chosen, ivfBytes, lshBytes, hnswBytes, pqBytes)
    }
  }

  /** SELECTIVITY-aware serving cost choice — [[chooseServing4]] priced
    * for a HYBRID query (relational predicate + KNN), the composition
    * every filtered gate runs (r19 candidate #1; knn_filtered_hnsw
    * documents the efSearch ∝ 1/selectivity deployment rule this model
    * prices). The predicate reaches every family differently:
    *   - IVF / LSH: probe partitions are read in FULL and the predicate
    *     applies inside the scan (the stores are not partitioned by the
    *     filter column) — bytes UNCHANGED;
    *   - routed HNSW: the beam is predicate-BLIND (filtering during
    *     traversal would disconnect the graph), so surfacing k
    *     survivors needs the beam widened to efSearch/s candidates —
    *     bytes scale by 1/s;
    *   - PQ/ADC: the shared code scan is unchanged, but the shortlist
    *     must widen to shortlist/s for k survivors to reach the exact
    *     re-rank — only the rescore term scales.
    * Consequence: a selective predicate punishes the graph path
    * hardest, leaves the probe paths untouched, and dents PQ only in
    * its small linear term — so the winner FLIPS on selectivity alone
    * (`ann_cost_serving_filtered` gates a measured flip; the spec pins
    * it synthetically). Selectivity travels as the EXACT pair
    * (matchRows, totalRows) and the widened knobs use integer ceiling
    * division ((ef·total + match − 1) div match), so the whole decision
    * is integer arithmetic both engines replay bit-for-bit — no float
    * selectivity in the gated channel. The widened knobs stay Long and
    * SATURATE at totalRows (ADVICE r19: ceilDiv(ef·total, match) at a
    * 1e9-corpus / 1-match ratio overflows a toInt to a NEGATIVE beam,
    * making hnsw spuriously win every comparison; a beam or shortlist
    * wider than the corpus is the natural saturation point — it means
    * "scan everything", the same bytes the exact path pays — and
    * `least(n_total, …)` keeps the oracle arithmetic replayable).
    * Tie/fallback discipline is [[chooseServing4]]'s verbatim. Returns
    * (chosen, ivfBytes, lshBytes, hnswBytes, pqBytes, efEff, slEff).
    */
  def chooseServingFiltered(qv: Array[Float], ivf: IvfCatalog.IvfIndex,
                            lsh: LshCatalog.LshIndex, hnswShards: Int,
                            hnswNprobe: Int, efSearch: Int, dim: Int,
                            pqCorpusRows: Long, pqM: Int, pqShortlist: Int,
                            matchRows: Long, totalRows: Long)
      : (String, Long, Long, Long, Long, Long, Long) = {
    require(matchRows > 0 && matchRows <= totalRows,
      s"selectivity pair out of range: $matchRows / $totalRows")
    val vecBytes = dim.toLong * 4
    def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b
    val efEff = math.min(totalRows, ceilDiv(efSearch.toLong * totalRows, matchRows))
    val slEff = math.min(totalRows, ceilDiv(pqShortlist.toLong * totalRows, matchRows))
    val hnswBytes =
      math.min(hnswShards, hnswNprobe).toLong * efEff * vecBytes
    val pqBytes = pqCorpusRows * pqM + slEff * vecBytes
    if (ivf.clusterRows.isEmpty || lsh.bucketRows.isEmpty)
      ("ivf", -1L, -1L, hnswBytes, pqBytes, efEff, slEff)
    else {
      val ivfBytes = Ann.probeIds(qv, ivf.centroids, ivf.nprobe)
        .map(c => ivf.clusterRows.getOrElse(c, 0L)).sum * vecBytes
      val lshBytes = Ann.probeBuckets(Ann.queryBucket(qv, lsh.planes),
          lsh.planes.length, lsh.radius)
        .map(b => lsh.bucketRows.getOrElse(b, 0L)).sum * vecBytes
      val chosen =
        if (pqBytes < ivfBytes && pqBytes < lshBytes && pqBytes < hnswBytes) "pq"
        else if (hnswBytes < ivfBytes && hnswBytes < lshBytes) "hnsw"
        else if (lshBytes < ivfBytes) "lsh"
        else "ivf"
      (chosen, ivfBytes, lshBytes, hnswBytes, pqBytes, efEff, slEff)
    }
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
    * READ — the latency calibration [[chooseServingCalibrated]]
    * multiplies into the byte model. Derived by the
    * `graft.queries.CalibrateServing` probe (median of warm single-query
    * runs over the gate stores, divided by the priced bytes); treated
    * as DATA like an index's centroids — re-derive on new hardware,
    * record in RECALL.md.
    */
  final case class ServingWeights(ivfNsPerKib: Long, lshNsPerKib: Long,
                                  hnswNsPerKib: Long, pqNsPerKib: Long)

  /** LATENCY-CALIBRATED serving cost choice (r19 verdict #6) —
    * [[chooseServing4]]'s byte totals weighted by measured per-family
    * ns/KiB, run BESIDE the pure-bytes decision. Bytes-read is a
    * portable unit but not a clock: the routed graph beam pays
    * per-candidate random access and per-shard dispatch (measured
    * ~15.6 μs/KiB at sf0.1) while the probe paths stream columnar
    * partitions (~1.1–1.9 μs/KiB), so the byte-argmin and the
    * time-argmin genuinely disagree — at sf0.1 bytes pick the 16 KiB
    * beam (255 ms measured) while the calibration picks the 66 KiB
    * LSH probe scan (125 ms measured; RECALL.md "Serving latency
    * calibration"). Costs are exact integers the oracle replays:
    * ceil(bytes/1024) × nsPerKib, KiB granularity keeping the product
    * inside BIGINT headroom out to petabyte scans. Tie/fallback
    * discipline is [[chooseServing4]]'s verbatim on the weighted
    * costs; missing probe stats → sticky ivf with -1 estimates on BOTH
    * channels. Returns (byteChosen, calChosen, ivfBytes, lshBytes,
    * hnswBytes, pqBytes, ivfNs, lshNs, hnswNs, pqNs).
    */
  def chooseServingCalibrated(qv: Array[Float], ivf: IvfCatalog.IvfIndex,
                              lsh: LshCatalog.LshIndex, hnswShards: Int,
                              hnswNprobe: Int, efSearch: Int, dim: Int,
                              pqCorpusRows: Long, pqM: Int, pqShortlist: Int,
                              w: ServingWeights)
      : (String, String, Long, Long, Long, Long, Long, Long, Long, Long) = {
    val (byteChosen, ivfB, lshB, hnswB, pqB) = chooseServing4(qv, ivf, lsh,
      hnswShards, hnswNprobe, efSearch, dim, pqCorpusRows, pqM, pqShortlist)
    def cost(bytes: Long, nsPerKib: Long): Long =
      ((bytes + 1023L) / 1024L) * nsPerKib
    val hnswNs = cost(hnswB, w.hnswNsPerKib)
    val pqNs = cost(pqB, w.pqNsPerKib)
    if (ivfB < 0)
      (byteChosen, "ivf", ivfB, lshB, hnswB, pqB, -1L, -1L, hnswNs, pqNs)
    else {
      val ivfNs = cost(ivfB, w.ivfNsPerKib)
      val lshNs = cost(lshB, w.lshNsPerKib)
      val calChosen =
        if (pqNs < ivfNs && pqNs < lshNs && pqNs < hnswNs) "pq"
        else if (hnswNs < ivfNs && hnswNs < lshNs) "hnsw"
        else if (lshNs < ivfNs) "lsh"
        else "ivf"
      (byteChosen, calChosen, ivfB, lshB, hnswB, pqB, ivfNs, lshNs, hnswNs, pqNs)
    }
  }

  /** COMBINED batch × selectivity serving cost choice — the two r19
    * refinements composed (r19 verdict #5), because a production
    * serving tier faces both at once: a BATCH of hybrid
    * (predicate + KNN) queries. The two models compose orthogonally —
    * each family's batch rule applies to its selectivity-widened form:
    *   - IVF / LSH: Σ over the batch's per-query probe sets × dim·4 —
    *     selectivity-INVARIANT (probe partitions are read in full
    *     either way), batch-LINEAR;
    *   - routed HNSW: B × min(nShards, nprobe) × efEff × dim·4 with
    *     efEff = min(totalRows, ⌈ef·total/match⌉) — the
    *     predicate-blind beam widens by 1/s AND pays per query;
    *   - PQ/ADC: corpusRows × m + B × slEff × dim·4 with
    *     slEff = min(totalRows, ⌈sl·total/match⌉) — ONE shared code
    *     scan however large the batch, only the per-query rescore
    *     widens.
    * Consequence: the decision flips on (B, s) JOINTLY — a selective
    * predicate prices the graph out and can hand a SMALL batch to a
    * probe path, while growing the batch re-amortizes PQ's shared scan
    * below the widened rescores' rivals (`ann_cost_serving_batch_
    * filtered` gates the measured grid; IvfProbeRuleSpec pins the
    * synthetic joint flips). Knob saturation, the exact-integer
    * (matchRows, totalRows) channel, and [[chooseServing4]]'s
    * tie/fallback discipline are inherited verbatim from
    * [[chooseServingFiltered]] / [[chooseServingBatch]]. Returns
    * (chosen, ivfBytes, lshBytes, hnswBytes, pqBytes, efEff, slEff).
    */
  def chooseServingBatchFiltered(qvs: Seq[Array[Float]],
                                 ivf: IvfCatalog.IvfIndex,
                                 lsh: LshCatalog.LshIndex, hnswShards: Int,
                                 hnswNprobe: Int, efSearch: Int, dim: Int,
                                 pqCorpusRows: Long, pqM: Int, pqShortlist: Int,
                                 matchRows: Long, totalRows: Long)
      : (String, Long, Long, Long, Long, Long, Long) = {
    require(qvs.nonEmpty, "chooseServingBatchFiltered needs at least one query")
    require(matchRows > 0 && matchRows <= totalRows,
      s"selectivity pair out of range: $matchRows / $totalRows")
    val vecBytes = dim.toLong * 4
    val b = qvs.length.toLong
    def ceilDiv(a: Long, d: Long): Long = (a + d - 1) / d
    val efEff = math.min(totalRows, ceilDiv(efSearch.toLong * totalRows, matchRows))
    val slEff = math.min(totalRows, ceilDiv(pqShortlist.toLong * totalRows, matchRows))
    val hnswBytes =
      b * math.min(hnswShards, hnswNprobe).toLong * efEff * vecBytes
    val pqBytes = pqCorpusRows * pqM + b * slEff * vecBytes
    if (ivf.clusterRows.isEmpty || lsh.bucketRows.isEmpty)
      ("ivf", -1L, -1L, hnswBytes, pqBytes, efEff, slEff)
    else {
      val ivfBytes = qvs.map { qv =>
        Ann.probeIds(qv, ivf.centroids, ivf.nprobe)
          .map(c => ivf.clusterRows.getOrElse(c, 0L)).sum
      }.sum * vecBytes
      val lshBytes = qvs.map { qv =>
        Ann.probeBuckets(Ann.queryBucket(qv, lsh.planes),
            lsh.planes.length, lsh.radius)
          .map(bk => lsh.bucketRows.getOrElse(bk, 0L)).sum
      }.sum * vecBytes
      val chosen =
        if (pqBytes < ivfBytes && pqBytes < lshBytes && pqBytes < hnswBytes) "pq"
        else if (hnswBytes < ivfBytes && hnswBytes < lshBytes) "hnsw"
        else if (lshBytes < ivfBytes) "lsh"
        else "ivf"
      (chosen, ivfBytes, lshBytes, hnswBytes, pqBytes, efEff, slEff)
    }
  }

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
