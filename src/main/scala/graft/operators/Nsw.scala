package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeArrayData}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Graph-based ANN: sharded HNSW beam search — the last ANN family
  * member beside IVF/LSH/PQ (Malkov & Yashunin 2016). One index with a
  * level cap ([[Params.maxLevel]]): at cap 0 every node lives on layer
  * 0 only and the graph is the flat Navigable Small World (Malkov et
  * al. 2014); above it, nodes draw levels and search descends through
  * the upper layers before the layer-0 beam. Both are built, stored,
  * appended and searched by the same code.
  *
  * Spark-first layout: the corpus is hash-sharded (`vec_id % nShards`),
  * and each shard gets an INDEPENDENT graph built inside one
  * `mapPartitions` task — the sanctioned per-partition imperative
  * case: graph insertion is inherently sequential within a shard, but
  * shards build in parallel and never communicate. At 100 TB you pick
  * nShards so a shard (vectors + adjacency) fits one executor's memory
  * (e.g. ~1M × 384-d ≈ 1.5 GB/shard → a few thousand shards); build
  * cost per shard is n·log n beam searches instead of the n² of a
  * brute-force kNN-graph.
  *
  * The store holds one row per node: (shard, vec_id, embedding, level,
  * layers), `layers(l)` = the node's neighbors at layer l, so a flat
  * store is the level-0 case of the layered one.
  *
  * Search runs over the store's shard exchange, opened once and held
  * ([[OpenedGraph]]): one Spark job fans one beam per shard (each task
  * touches O(ef·log n) nodes of its local graph, not the shard), and
  * the same task scores each of its ≤ efSearch candidates EXACTLY, with
  * the codegen'd cosine expression's arithmetic, over the graph store's
  * float copy of the candidate's vector — no second corpus scan. The
  * driver keeps the top k per query of the union (≤ nShards·efSearch
  * ids — bounded, like IVF's probe list). There is one search per mode:
  * [[batchSearch]] (every shard) and [[routedBatchSearch]] (each query's
  * nprobe centroid-nearest shards); a single query is a batch of one.
  * That two-stage shape is what makes the result hash-gateable: the
  * candidate set is deterministic (ascending-id insertion, id
  * tie-breaks everywhere), so the DuckDB oracle re-ranks the identical
  * id list with its own cosine and must agree bit-for-bit after the
  * shared round(·,6) exit.
  *
  * Determinism contract (everything the oracle leans on):
  *   - insertion order = ascending vec_id within a shard;
  *   - a node's level = a pure function of its id ([[hnswLevel]]);
  *   - entry point = the highest-level node, ties to the smallest id
  *     (at cap 0: the smallest vec_id in the shard);
  *   - all heap orderings break distance ties by smaller id;
  *   - distances in Double with fixed left-to-right accumulation.
  *
  * Why graph search has NO transparent KNN→probe rewrite (unlike
  * IVF/LSH, plans.IvfProbeRule): those rewrites inject a probe
  * IN-filter whose probe set is computable DRIVER-SIDE from index
  * metadata resident in the rule (centroid array, hyperplanes) — an
  * O(nlist·dim) closed-form step that is legitimate inside an
  * optimizer rule. A graph probe set IS the beam walk: deriving it
  * requires a distributed pass over the data-sized graph store, and
  * launching a Spark job from inside Catalyst optimization is both
  * unsound (rules may re-fire, plans may never execute) and
  * unbounded-latency. Graph indexes therefore serve through the
  * explicit [[batchSearch]]/[[routedBatchSearch]] API. A hybrid
  * predicate + graph query takes the candidates from that API and
  * re-ranks them in SQL under its predicate: the beams run unchanged
  * (dropping nodes DURING traversal would disconnect the small-world
  * routing), and the predicate composes with the candidate IN-filter
  * on one corpus scan.
  */
object Nsw {

  /** Build/search knobs. `m` = edges added per insertion, `maxDegree` =
    * the layer-0 cap after bidirectional backlinks (2m, the usual
    * setting; upper layers cap at m), `efConstruction`/`efSearch` =
    * beam widths, `maxLevel` = the highest layer a node may draw (0 =
    * flat NSW, [[HnswMaxLevel]] for the layered stores). Append to a
    * store with the Params it was built with.
    */
  final case class Params(
      nShards: Int = 4,
      m: Int = 8,
      efConstruction: Int = 32,
      efSearch: Int = 32,
      maxLevel: Int = 0) {
    val maxDegree: Int = 2 * m
  }

  /** Level cap of the layered stores: with P(level ≥ l) = m^(-l),
    * level 8 at m = 8 is one node in 8^8 ≈ 16M — deeper layers would be
    * empty at any shard size an executor can hold.
    */
  val HnswMaxLevel = 8

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i)
      na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i)
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 1.0 else 1.0 - dot / denom
  }

  /** (distance, id) ordering with the id tiebreak — the ONE ordering
    * every heap below uses, so the search is deterministic.
    */
  private val byDistThenId: Ordering[(Double, Long)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)

  /** A node's neighbors at layer `l` (none above its level). */
  private def adjAt(layers: Long => Array[Array[Long]], l: Int)(id: Long): Array[Long] = {
    val ls = layers(id); if (l < ls.length) ls(l) else Array.empty
  }

  /** Greedy best-first beam over one layer: returns the ef closest
    * visited nodes to `q`, ascending (distance, id). A min-heap of
    * frontier candidates, a bounded max-heap of results; stop when the
    * nearest frontier node is farther than the worst retained result.
    */
  private def beamSearch(q: Array[Float], entry: Long,
                         vecs: Long => Array[Float],
                         adj: Long => Array[Long],
                         ef: Int): Seq[(Double, Long)] = {
    val visited = mutable.Set[Long](entry)
    val d0 = cosine(q, vecs(entry))
    val frontier = mutable.PriorityQueue((d0, entry))(byDistThenId.reverse) // min-heap
    val results = mutable.PriorityQueue((d0, entry))(byDistThenId)         // max-heap
    while (frontier.nonEmpty) {
      val (d, node) = frontier.dequeue()
      if (results.size >= ef && byDistThenId.gt((d, node), results.head)) {
        frontier.clear() // nearest frontier ≥ worst result: done
      } else {
        adj(node).foreach { nb =>
          if (visited.add(nb)) {
            val dn = cosine(q, vecs(nb))
            if (results.size < ef || byDistThenId.lt((dn, nb), results.head)) {
              results.enqueue((dn, nb))
              if (results.size > ef) results.dequeue()
              frontier.enqueue((dn, nb))
            }
          }
        }
      }
    }
    results.dequeueAll.reverse.toSeq
  }

  /** Greedy descent (ef = 1) from `start` through layers `from` down to
    * `downTo`: at each layer, move to a closer neighbor until none is.
    */
  private def descend(q: Array[Float], start: Long, vecs: Long => Array[Float],
                      layers: Long => Array[Array[Long]],
                      from: Int, downTo: Int): Long = {
    var cur = start
    var curD = cosine(q, vecs(cur))
    var l = from
    while (l >= downTo) {
      var improved = true
      while (improved) {
        improved = false
        adjAt(layers, l)(cur).foreach { nb =>
          val dn = cosine(q, vecs(nb))
          if (byDistThenId.lt((dn, nb), (curD, cur))) {
            cur = nb; curD = dn; improved = true
          }
        }
      }
      l -= 1
    }
    cur
  }

  /** Diverse-neighbor selection (the HNSW select-neighbors heuristic,
    * Malkov & Yashunin 2016 Alg. 4): walking candidates in ascending
    * (distance, id), keep one only if it is closer to the BASE than to
    * every already-kept neighbor; unfilled slots backfill from the
    * pruned list in order. Plain nearest-m trimming fails on clustered
    * corpora — it severs exactly the long-range inter-cluster edges
    * that make the graph navigable, fragmenting it into cluster
    * islands (measured: mean recall@10 collapsed to 0.48 at ef=32 on
    * the mixture-of-Gaussians corpus before this heuristic; see
    * RECALL.md). Deterministic: fixed visit order, id tie-breaks.
    */
  def selectNeighbors(cands: Seq[(Double, Long)], m: Int,
                      vec: Long => Array[Float]): Array[Long] = {
    val kept = mutable.ArrayBuffer.empty[(Long, Array[Float])]
    val pruned = mutable.ArrayBuffer.empty[Long]
    cands.sorted(byDistThenId).foreach { case (d, id) =>
      if (kept.size < m) {
        val cv = vec(id)
        if (kept.forall { case (_, kv) => cosine(cv, kv) >= d }) kept += ((id, cv))
        else pruned += id
      }
    }
    (kept.map(_._1) ++ pruned.take(m - kept.size)).toArray
  }

  /** Deterministic level draw (Malkov & Yashunin 2016 Alg. 1's
    * `floor(-ln(U)·mL)`, mL = 1/ln(m) so P(level ≥ l) = m^(-l)), capped
    * at `maxLevel` — with U derived from the portable 48-bit md5 hash of
    * the vec_id instead of RNG state: a node's level is a pure function
    * of its id, so an append assigns the SAME level a full rebuild
    * would, and two builds of one corpus are byte-identical.
    * StrictMath.log, not Math.log: levels must not depend on the host's
    * libm. The level only shapes the graph — gated arithmetic stays in
    * the exact re-rank stage.
    */
  def hnswLevel(id: Long, m: Int, maxLevel: Int): Int = {
    val u = (graft.functions.Md5.long48(s"hnsw:$id") + 1).toDouble / (1L << 48).toDouble
    val mL = 1.0 / StrictMath.log(m.toDouble)
    math.min(maxLevel, (-StrictMath.log(u) * mL).toInt)
  }

  /** The entry rule, on load, on insert and on search: the highest-level
    * node, ties to the smallest id.
    */
  private def entryOf(ids: Iterator[Long], levelOf: Long => Int): Long =
    ids.minBy(id => (-levelOf(id), id))

  /** Insert `batch` (ascending id) into an existing shard graph — the
    * ONE insertion procedure. Each node draws its level
    * ([[hnswLevel]], capped at `p.maxLevel`) and carries one adjacency
    * array per layer 0..level. Insertion descends greedily (ef = 1)
    * from the entry's top layer down to level+1, then at each layer
    * level..0 links to `m` DIVERSE nodes among its efConstruction-beam
    * nearest (the select-neighbors heuristic), bidirectionally; any
    * node exceeding the layer's cap (2m at layer 0, m above) re-selects
    * that many diverse edges the same way. A new node takes over the
    * entry when its level is higher than the entry's, or equal with a
    * smaller id — the rule the load applies to the existing nodes, so
    * an append sees the entry a rebuild would. The initial build is
    * this with an empty existing graph; incremental append is this with
    * the persisted one — same code, so append ≡ "rebuild where the
    * batch ids happen to insert last".
    */
  def insertIntoShardGraph(existing: Array[(Long, Array[Float], Array[Array[Long]])],
                           batch: Array[(Long, Array[Float])],
                           p: Params): Map[Long, Array[Array[Long]]] = {
    val vecs = mutable.Map.empty[Long, Array[Float]]
    // adjacency arrays are rebuilt on append/trim — each is ≤ cap+1
    // long, so the copies are O(1); the map itself is never copied
    val layers = mutable.Map.empty[Long, Array[Array[Long]]]
    existing.foreach { case (id, v, ls) => vecs(id) = v; layers(id) = ls }
    def levelOf(id: Long): Int = layers(id).length - 1
    var entry = if (layers.isEmpty) 0L else entryOf(layers.keysIterator, levelOf)
    def maxDegreeAt(l: Int): Int = if (l == 0) p.maxDegree else p.m
    def trim(l: Int, id: Long): Unit = {
      val edges = layers(id)(l)
      if (edges.length > maxDegreeAt(l)) {
        val base = vecs(id)
        layers(id)(l) = selectNeighbors(
          edges.map(e => (cosine(base, vecs(e)), e)).toSeq, maxDegreeAt(l), vecs)
      }
    }
    batch.sortBy(_._1).foreach { case (id, v) =>
      val lvl = hnswLevel(id, p.m, p.maxLevel)
      val first = layers.isEmpty
      vecs(id) = v
      layers(id) = Array.fill(lvl + 1)(Array.empty[Long])
      if (first) entry = id
      else {
        val entryLvl = levelOf(entry)
        var cur = descend(v, entry, vecs, layers, entryLvl, lvl + 1)
        var l = math.min(lvl, entryLvl)
        while (l >= 0) {
          val near = beamSearch(v, cur, vecs, adjAt(layers, l),
            math.max(p.efConstruction, p.m))
          layers(id)(l) = selectNeighbors(near, p.m, vecs)
          layers(id)(l).foreach { nb =>
            layers(nb)(l) = layers(nb)(l) :+ id
            trim(l, nb)
          }
          trim(l, id)
          cur = near.head._2
          l -= 1
        }
        if (lvl > entryLvl || (lvl == entryLvl && id < entry)) entry = id
      }
    }
    layers.toMap
  }

  /** One shard's graph from scratch (the initial-build case of
    * [[insertIntoShardGraph]]).
    */
  def buildShardGraph(nodes: Array[(Long, Array[Float])],
                      p: Params): Map[Long, Array[Array[Long]]] =
    insertIntoShardGraph(Array.empty, nodes, p)

  private val graphSchema: StructType = StructType(Seq(
    StructField("shard", IntegerType),
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("level", IntegerType),
    StructField("layers", ArrayType(ArrayType(LongType)))))

  private def layersOf(ir: InternalRow, ordinal: Int): Array[Array[Long]] = {
    val ls = ir.getArray(ordinal)
    Array.tabulate(ls.numElements())(i => ls.getArray(i).toLongArray())
  }

  /** The rows of `corpus` as nodes to insert: (shard, vec_id,
    * embedding, layers, is_new), the insert task's input.
    */
  private def newNodes(corpus: DataFrame, shard: Column, vecCol: String,
                       idCol: String): DataFrame =
    corpus.select(shard.as("shard"), col(idCol).cast("long").as("vec_id"),
      col(vecCol).cast("array<float>").as("embedding"),
      typedLit(Seq.empty[Seq[Long]]).as("layers"), lit(true).as("is_new"))

  /** A store's rows as already-inserted nodes of the insert task. */
  private def storedNodes(graph: DataFrame): DataFrame =
    graph.select(col("shard"), col("vec_id"), col("embedding"), col("layers"),
      lit(false).as("is_new"))

  private def hashShard(idCol: String, p: Params): Column =
    pmod(col(idCol), lit(p.nShards)).cast("int")

  /** The one per-shard insert task behind every build and append:
    * `nodes` (see [[newNodes]]) must already be exchanged so that each
    * shard's rows share one task. Per shard, the stored nodes load, the
    * new ones insert through [[insertIntoShardGraph]], and the shard's
    * store rows come out in vec_id order.
    */
  private def insertTask(nodes: DataFrame, p: Params): DataFrame = {
    val out = nodes.queryExecution.toRdd.mapPartitions { it =>
      val rows = it.map { ir =>
        (ir.getInt(0), ir.getLong(1), ir.getArray(2).toFloatArray(),
          layersOf(ir, 3), ir.getBoolean(4))
      }.toArray
      rows.groupBy(_._1).iterator.flatMap { case (shard, grp) =>
        val (nw, ex) = grp.partition(_._5)
        val layers = insertIntoShardGraph(
          ex.map(r => (r._2, r._3, r._4)), nw.map(r => (r._2, r._3)), p)
        grp.sortBy(_._2).iterator.map { case (_, id, v, _, _) =>
          val ls = layers(id)
          Row(shard, id, v.toSeq, ls.length - 1, ls.map(_.toSeq).toSeq)
        }
      }
    }
    nodes.sparkSession.createDataFrame(out, graphSchema)
  }

  /** Build the sharded graph store: one `mapPartitions` task per shard
    * (shards never communicate). Write this partitioned by `shard` so
    * search's per-shard tasks read exactly one directory each.
    */
  def buildGraph(corpus: DataFrame, vecCol: String, idCol: String,
                 p: Params): DataFrame =
    insertTask(newNodes(corpus, hashShard(idCol, p), vecCol, idCol)
      .repartition(p.nShards, col("shard")), p)

  /** Incremental index refresh: insert a new batch into the persisted
    * graph without rebuilding it. Per shard, the existing (vectors,
    * layers) load once and the shard's batch slice inserts through the
    * SAME procedure as the initial build — compute cost is
    * O(|batch|·ef·log n), not O(|corpus|). Because levels are id-pure
    * and insertion is ascending-id, a batch of strictly-newer ids
    * replays exactly the tail of a full rebuild (append ≡ rebuild, byte
    * for byte). Backlinks may retouch existing nodes' edge lists, so
    * the touched SHARDS rewrite (write amplification graph stores
    * inherently pay where IVF append is file-append-only,
    * maint_ivf_append); under hash sharding every shard is touched, so
    * at 100 TB an appendy deployment shards by arrival window instead
    * ([[buildGraphWindowed]] / [[appendToGraphWindowed]]) — then an
    * append rewrites only the newest window's shard and search fans
    * over all shards exactly as here.
    */
  def appendToGraph(graph: DataFrame, batch: DataFrame, vecCol: String,
                    idCol: String, p: Params): DataFrame = {
    val existing = storedNodes(graph)
    val incoming = newNodes(batch, hashShard(idCol, p), vecCol, idCol)
      // idempotence: an id already in the graph must not insert twice
      // (a replayed batch would otherwise emit duplicate rows and wire
      // a node to itself through its earlier copy) — and neither must a
      // vec_id duplicated WITHIN the batch (the second insert would
      // reset the node's layers while backlinks from the first persist
      // in other nodes' edge lists)
      .join(graph.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .dropDuplicates("vec_id")
      .select(existing.columns.map(col): _*)
    insertTask(existing.union(incoming).repartition(p.nShards, col("shard")), p)
  }

  /** Persist the graph store partitioned by `shard`: each search task
    * then reads exactly one shard directory (static pruning if a probe
    * policy ever restricts shards; locality either way).
    */
  def writeGraph(graph: DataFrame, path: String): Unit =
    graph.write.partitionBy("shard").mode("overwrite").parquet(path)

  // ------------------------------------------------------------------
  // Arrival-window sharding — the appendy-deployment layout
  // ------------------------------------------------------------------

  /** Arrival-window shard assignment: `shard = vec_id div windowSize`.
    * Ids are assigned in arrival order, so contiguous id ranges ARE
    * arrival windows — an append batch (all ids past the stored max)
    * lands in the newest window's shard(s) only, and
    * [[appendToGraphWindowed]] rewrites exactly those directories.
    * Hash sharding ([[buildGraph]]) spreads every batch over every
    * shard — better balanced for a static corpus, but an append
    * rewrites the whole store; this layout is the documented
    * mitigation. Search code is layout-agnostic: tasks group rows by
    * the `shard` column, so [[batchSearch]]/[[routedBatchSearch]] fan
    * over windowed stores unchanged.
    */
  def windowShard(idCol: String, windowSize: Long): Column =
    // integer `div`, not `/` (double division) — exact at any id scale.
    // NOTE: Spark `div` truncates toward zero while DuckDB `//` floors;
    // they agree ONLY for non-negative ids, which the arrival-order
    // vec_id domain guarantees (ids are assigned 0,1,2,… at ingest) —
    // a signed id domain would need the offset-shift discipline instead
    expr(s"CAST(CAST($idCol AS BIGINT) div ${windowSize}L AS INT)")

  /** Build the sharded graph store under arrival-window sharding —
    * the same independent per-shard construction as [[buildGraph]],
    * with `vec_id div windowSize` in place of the hash shard. Insertion
    * order (ascending vec_id within a shard) and every other clause of
    * the determinism contract are unchanged, so a windowed append of a
    * strictly-newer batch is bit-identical to a windowed full rebuild
    * (the batch ids insert last either way — NswSpec locks this).
    */
  def buildGraphWindowed(corpus: DataFrame, vecCol: String, idCol: String,
                         windowSize: Long, p: Params): DataFrame =
    insertTask(newNodes(corpus, windowShard(idCol, windowSize), vecCol, idCol)
      .repartition(col("shard")), p)

  /** Incremental refresh of a PERSISTED arrival-window store, rewriting
    * ONLY the shard directories the batch touches: the batch's windows
    * are computed first (a distinct over the batch — batch-sized, not
    * corpus-sized), the store is read WITH a pushed `shard IN (...)`
    * partition filter (static pruning: untouched shard directories are
    * never opened, let alone rewritten), the touched shards re-insert
    * through the ONE insertion procedure, and the refreshed partitions
    * are staged then atomically swapped in. Untouched shard dirs keep
    * their exact bytes — THE property hash sharding cannot offer
    * (every shard is touched there), and the reason an appendy
    * deployment shards by arrival window.
    *
    * Backlinks stay within a shard by construction, so pruning to the
    * touched shards loses nothing. Cost: O(touched shards), i.e.
    * O(|batch|) when the batch is one arrival window — the IVF
    * file-append cost shape, recovered for graph stores.
    */
  def appendToGraphWindowed(spark: SparkSession, storePath: String,
                            batch: DataFrame, vecCol: String, idCol: String,
                            windowSize: Long, p: Params): Unit = {
    recoverAside(spark, storePath)
    val incoming = newNodes(batch, windowShard(idCol, windowSize), vecCol, idCol)
      // batch-internal idempotence (the cross-store anti-join below only
      // covers ids ALREADY in the store): duplicate vec_ids within one
      // batch would insert twice — the second insert resets the node's
      // layers while backlinks from the first persist, corrupting the
      // graph invariants. Equal-id rows are replays of one logical row,
      // so keeping any single one is correct.
      .dropDuplicates("vec_id")
    val touched = incoming.select(col("shard")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return
    val existingTouched = storedNodes(readGraph(spark, storePath)
      .filter(col("shard").isin(touched.map(Integer.valueOf).toSeq: _*)))
    // idempotence (same clause as appendToGraph): a replayed id must not
    // insert twice — the anti-join is against the touched slice only,
    // which is sufficient because windowing sends an id to ONE shard
    val fresh = incoming
      .join(existingTouched.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .select(existingTouched.columns.map(col): _*)
    val refreshed = insertTask(existingTouched.union(fresh).repartition(col("shard")), p)
    // stage-then-swap, per TOUCHED partition only: the refresh READS the
    // directories being replaced, so they are written to a sibling dir
    // first and the shard dirs swapped after the job completes — the
    // same hazard note as NswAppendStore, scoped to touched shards
    val staging = storePath + "_windowed_staging"
    refreshed.write.partitionBy("shard").mode("overwrite").parquet(staging)
    val hconf = spark.sessionState.newHadoopConf()
    val store = new org.apache.hadoop.fs.Path(storePath)
    val staged = new org.apache.hadoop.fs.Path(staging)
    val fs = store.getFileSystem(hconf)
    // swap via rename-aside, never delete-then-rename: a crash between
    // `delete(to)` and `rename(from, to)` would leave the store missing
    // a shard with nothing reconciling it. Renaming the old dir aside
    // first keeps its bytes until the new dir is IN PLACE; the aside is
    // deleted last, and the entry-time recovery above restores it if
    // this JVM dies mid-swap.
    val asideRoot = new org.apache.hadoop.fs.Path(storePath + "_windowed_aside")
    // writer-liveness sentinel, created BEFORE the first rename: a
    // reader that lands mid-swap sees the transient empty-slot+aside
    // state, and without the fence its recovery would rename the OLD
    // shard back into the slot (failing this appender's rename-in) and
    // delete asideRoot out from under the swap — if the appender then
    // died before renaming the staged shard in, the old bytes would
    // already be gone, reopening exactly the data-loss window the aside
    // exists to close. The pid-stamped marker lets recoverAside
    // distinguish a crashed swap (owner pid dead → recover) from an
    // in-flight one (owner alive → leave the swap alone).
    val marker = swapMarker(storePath)
    val out2 = fs.create(marker, true)
    out2.write(ProcessHandle.current().pid().toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out2.close()
    fs.mkdirs(asideRoot)
    touched.foreach { sh =>
      val from = new org.apache.hadoop.fs.Path(staged, s"shard=$sh")
      val to = new org.apache.hadoop.fs.Path(store, s"shard=$sh")
      val aside = new org.apache.hadoop.fs.Path(asideRoot, s"shard=$sh")
      if (fs.exists(to))
        require(fs.rename(to, aside), s"aside rename failed for shard=$sh")
      require(fs.rename(from, to), s"swap failed for shard=$sh")
    }
    fs.delete(asideRoot, true)
    fs.delete(staged, true)
    fs.delete(marker, false)
  }

  private def swapMarker(storePath: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(storePath + "_windowed_swap_inprogress")

  /** True if the swap marker names a live process — the fence that keeps
    * a concurrent reader's recovery from destroying an in-flight swap.
    * An unreadable/garbled marker reads as "owner dead" (the crash left
    * it half-written; recovery is then the right move).
    */
  private def swapOwnerAlive(fs: org.apache.hadoop.fs.FileSystem,
                             marker: org.apache.hadoop.fs.Path): Boolean =
    try {
      val in = fs.open(marker)
      val bytes = try in.readAllBytes() finally in.close()
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8).trim
        .toLongOption.exists(p => ProcessHandle.of(p).isPresent)
    } catch { case _: java.io.IOException => false }

  /** Crash recovery from an interrupted windowed-append swap: any shard
    * dir parked in the aside root whose store slot is EMPTY is the old
    * bytes of a swap that renamed-out but never renamed-in — restore it
    * (the aside lives OUTSIDE the store path so partition discovery
    * never sees a half-swapped dir). A mixed store (some shards already
    * refreshed, some restored) is safe: the vec_id anti-join in
    * [[appendToGraphWindowed]] makes the whole append idempotent, so
    * re-running converges. Runs at BOTH entry points — append AND read:
    * without the read-side check, a readGraph between a mid-swap crash
    * and the next append would silently see fewer rows (discovery just
    * lists fewer shard dirs). One FS existence check when no aside
    * exists — negligible against the parquet footer reads.
    *
    * FENCED behind the writer-liveness sentinel: recovery only proceeds
    * when no live appender owns the swap (marker absent, or its pid is
    * dead). A reader concurrent with a LIVE appendToGraphWindowed swap
    * must not "recover" it — doing so renames old bytes back into slots
    * the appender is about to fill and deletes the aside out from under
    * it. The restore also tolerates a slot that became non-empty between
    * the existence check and the rename (two recoverers racing after a
    * genuine crash): the slot being occupied IS the recovered state.
    */
  private def recoverAside(spark: SparkSession, storePath: String): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(hconf)
    val asideRoot = new org.apache.hadoop.fs.Path(storePath + "_windowed_aside")
    val marker = swapMarker(storePath)
    val markerExists = fs.exists(marker)
    if (markerExists && swapOwnerAlive(fs, marker)) return // in-flight swap
    if (fs.exists(asideRoot)) {
      fs.listStatus(asideRoot).foreach { st =>
        val slot = new org.apache.hadoop.fs.Path(store, st.getPath.getName)
        if (!fs.exists(slot))
          require(fs.rename(st.getPath, slot) || fs.exists(slot),
            s"crash recovery failed restoring ${st.getPath.getName}")
      }
      fs.delete(asideRoot, true)
    }
    if (markerExists) fs.delete(marker, false)
  }

  /** Read a persisted graph store (partition column restored to int).
    * Restores any half-completed windowed-swap aside first, so a read
    * landing between a crash and the next append sees the full store.
    */
  def readGraph(spark: SparkSession, path: String): DataFrame = {
    recoverAside(spark, path)
    spark.read.parquet(path)
      .select(col("shard").cast("int").as("shard"), col("vec_id"),
        col("embedding"), col("level"), col("layers"))
  }

  // ------------------------------------------------------------------
  // Search
  // ------------------------------------------------------------------

  /** One shard's graph as a search task holds it, built from the
    * shard's exchanged rows (shard, vec_id, embedding, layers).
    */
  private final class ShardGraph(val shard: Int,
                                 rows: Array[(Int, Long, Array[Float], Array[Array[Long]])]) {
    val vecs: Map[Long, Array[Float]] = rows.iterator.map(r => r._2 -> r._3).toMap
    private val layers = rows.iterator.map(r => r._2 -> r._4).toMap
    private val entry = entryOf(layers.keysIterator, layers(_).length - 1)

    /** The one beam: greedy descent from the entry's top layer to layer
      * 1, then the ef beam at layer 0 — ≤ ef (distance, id), ascending.
      */
    def search(q: Array[Float], ef: Int): Seq[(Double, Long)] =
      beamSearch(q, descend(q, entry, vecs, layers, layers(entry).length - 1, 1),
        vecs, adjAt(layers, 0), ef)
  }

  /** The shard graphs in one task's exchanged rows. */
  private def shardGraphs(rows: Iterator[InternalRow]): Iterator[ShardGraph] =
    rows.map { ir =>
      (ir.getInt(0), ir.getLong(1), ir.getArray(2).toFloatArray(), layersOf(ir, 3))
    }.toArray.groupBy(_._1).iterator.map { case (shard, grp) => new ShardGraph(shard, grp) }

  /** A graph store's shard exchange, opened once and held: the
    * post-exchange rows of `graph.select(shard, vec_id, embedding,
    * layers).repartition(nShards, shard)`, plus the shard → partition
    * map of that exchange. The first use runs the exchange; the held RDD
    * keeps its shuffle dependency alive, and Spark keeps the shuffle
    * output of a live dependency, so every later job over it skips the
    * map stage and reads only the partitions it asks for. The shuffle
    * files live as long as this object does (the context cleaner
    * removes them once it is unreachable). Nothing here holds vectors
    * in the heap: each search task rebuilds its shard's lookup from the
    * exchanged rows.
    *
    * The exchange is a CORRECTNESS requirement, not a convenience: a
    * shard's rows must all reach one task (a parquet file >
    * maxPartitionBytes splits across tasks, and a beam over half a
    * shard's graph returns wrong candidates). Serving opens this once
    * per index ([[graft.streaming.VectorServing.AutoServingIndexes]]
    * holds one; the registered queries hold one per graph store and
    * fixture), and every search reads it.
    */
  final class OpenedGraph private[Nsw] (graph: DataFrame, nShards: Int) {
    private[Nsw] val spark: SparkSession = graph.sparkSession

    private lazy val exchanged: org.apache.spark.rdd.RDD[InternalRow] = graph
      .select(col("shard"), col("vec_id"), col("embedding"), col("layers"))
      .repartition(nShards, col("shard"))
      .queryExecution.toRdd

    /** `repartition(nShards, shard)`'s own hash partitioning, evaluated
      * for one shard value: the partition that holds every row of it.
      */
    private def partitionOf(shard: Int): Int =
      HashPartitioning(Seq(BoundReference(0, IntegerType, nullable = false)), nShards)
        .partitionIdExpression.eval(InternalRow(shard)).asInstanceOf[Int]

    /** The exchanged rows of `shards` (None = every shard). Pruning keeps
      * only the partitions holding those shards, so a job over them runs
      * one task per such partition. An exchange that does not come back
      * with nShards partitions (adaptive execution plans an empty store
      * as an empty relation) is read whole: its partition ids do not
      * follow the hash, and the tasks filter by shard either way.
      */
    private[Nsw] def shardRows(shards: Option[Set[Int]]): org.apache.spark.rdd.RDD[InternalRow] =
      shards match {
        case Some(shs) if exchanged.getNumPartitions == nShards =>
          val parts = shs.map(partitionOf)
          org.apache.spark.rdd.PartitionPruningRDD.create(exchanged, parts.contains)
        case _ => exchanged
      }
  }

  /** Open a graph store's shard exchange ([[OpenedGraph]]) with
    * `nShards` exchange partitions. Cheap: nothing runs until the first
    * search.
    */
  def openGraph(graph: DataFrame, nShards: Int): OpenedGraph =
    new OpenedGraph(graph, nShards)

  /** The one search over an [[OpenedGraph]], in ONE Spark job: each task
    * reads one exchanged partition, builds the lookup of every shard in
    * it that some query is routed to (`routes` = None: every shard, for
    * every query), beams each such query, and scores each candidate
    * exactly over the store's own copy of its vector ([[buildGraph]]
    * writes the corpus vectors as `array<float>`, so this is the value
    * the SQL re-rank over the corpus computes). A task sends the driver
    * ≤ (shards it holds for the query)·efSearch rows per query; the
    * driver keeps the top k per query by (distance ASC NULLS FIRST, id)
    * ([[Knn.rankedLocal]]).
    * Returns the ranked rows (query_id, knn_rank, `idCol`,
    * distance_score) as a local DataFrame, plus the per-query candidate
    * ids (for the late-bound oracle, which re-ranks exactly these).
    * Query ids must be distinct (two queries under one id would merge
    * their candidates into one ranking) and k at least 1.
    */
  private def openedSearch(graph: OpenedGraph, idCol: String,
                           queries: Seq[(Int, Array[Float])], k: Int,
                           efSearch: Int, routes: Option[Map[Int, Seq[Int]]])
      : (DataFrame, Map[Int, Seq[Long]]) = {
    require(k >= 1, s"k must be >= 1, got $k")
    val dups = queries.map(_._1).diff(queries.map(_._1).distinct).distinct
    require(dups.isEmpty, s"duplicate query ids: ${dups.mkString(", ")}")
    val routeSets = routes.map(_.map { case (q, shs) => q -> shs.toSet })
    val wanted = routeSets.map(_.values.flatten.toSet)
    val found = graph.shardRows(wanted).mapPartitions { it =>
      val cosine = Knn.taskCosine(ArrayType(FloatType))
      shardGraphs(it.filter(ir => wanted.forall(_.contains(ir.getInt(0))))).flatMap { g =>
        queries.iterator
          .filter { case (qid, _) => routeSets.forall(_(qid).contains(g.shard)) }
          .flatMap { case (qid, qv) =>
            val q = UnsafeArrayData.fromPrimitiveArray(qv)
            g.search(qv, efSearch).iterator.map { case (_, id) =>
              (qid, id, cosine.nullSafeEval(
                UnsafeArrayData.fromPrimitiveArray(g.vecs(id)), q).asInstanceOf[java.lang.Double])
            }
          }
      }
    }.collect()
    (Knn.rankedLocal(graph.spark, idCol, LongType,
        found.toSeq.map(r => (r._1, r._3, r._2)), k),
      found.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSeq.sorted })
  }

  /** Full-fan search: every query beams every shard of the opened
    * store in one job, then the exact per-query top-k over its
    * candidates. A single query is the batch `Seq(id -> vector)`.
    * Returns the ranked result plus the per-query candidate ids.
    */
  def batchSearch(graph: OpenedGraph, idCol: String,
                  queries: Seq[(Int, Array[Float])], k: Int, p: Params)
      : (DataFrame, Map[Int, Seq[Long]]) =
    openedSearch(graph, idCol, queries, k, p.efSearch, None)

  /** Routed batch search: each query routes driver-side to its nprobe
    * centroid-nearest shards ([[routeShards]]), the job reads only the
    * partitions of the batch's routed-shard UNION, and within a shard
    * only the queries routed THERE beam — per-query cost is
    * ≤ min(nShards, nprobe)·efSearch candidates, the router's
    * constant-in-corpus bound, batch-wide. A query's candidates are the
    * full fan's restricted to its routed shards (per-shard beams are
    * independent). Returns (ranked result, per-query candidate ids,
    * per-query routed shards) — the candidate map feeds the
    * recorded-candidate late oracle, the route map rides gated output.
    */
  def routedBatchSearch(graph: OpenedGraph, idCol: String,
                        queries: Seq[(Int, Array[Float])], k: Int,
                        centroids: Array[(Int, Array[Double])],
                        nprobe: Int, p: Params)
      : (DataFrame, Map[Int, Seq[Long]], Map[Int, Seq[Int]]) = {
    val routes = queries.map { case (qid, qv) =>
      qid -> routeShards(centroids, qv, nprobe)
    }.toMap
    val (res, byQ) = openedSearch(graph, idCol, queries, k, p.efSearch, Some(routes))
    (res, byQ, routes)
  }

  // ------------------------------------------------------------------
  // Shard routing — graph-ANN query cost independent of corpus size
  // ------------------------------------------------------------------
  //
  // The full fan ([[batchSearch]]) launches one beam per shard, and
  // nShards must grow with the corpus (a shard's graph has to fit one
  // executor), so per-query work is LINEAR in corpus size where
  // monolithic HNSW is logarithmic — the documented trade of the
  // sharded layout. The router ([[routedBatchSearch]]) closes it: each
  // shard keeps one centroid (a bounded build-time aggregate, the
  // IvfCatalog-stats pattern), a query beams only its nprobe nearest
  // shards, and the search job reads only the exchange partitions that
  // hold them. Per-query cost becomes O(nShards·dim) driver-side
  // routing + O(nprobe·ef·log shardSize) beams — constant in corpus
  // size once nprobe is fixed, exactly how IVF keeps probe cost flat
  // while nlist grows. Recall now depends on
  // the router sending the query to the right shards: under HASH
  // sharding every shard sees the same distribution (centroids nearly
  // coincide — routing is a coin flip and recall degrades ∝
  // nprobe/nShards), so a routed deployment shards by a locality-
  // bearing key (arrival window when drift gives windows structure, or
  // a coarse k-means assignment — the IVF-of-graphs layout). The
  // recall/fan-out trade is measured in RECALL.md.

  /** Per-shard centroids of a graph store: ONE bounded aggregate —
    * nShards·dim rows collected, the same "driver holds index metadata,
    * never data" contract as IVF's centroid array. Element sums
    * accumulate in exact DECIMAL so the centroid is a pure function of
    * the shard's vector SET (shuffle-order-independent) and routing is
    * reproducible across runs. Works at any level cap (it reads only
    * (shard, embedding)).
    */
  def shardCentroids(graph: DataFrame): Array[(Int, Array[Double])] = {
    val rows = graph
      .select(col("shard"), posexplode(col("embedding")))
      .groupBy(col("shard"), col("pos"))
      .agg(sum(col("col").cast("decimal(28,10)")).as("s"),
        count(lit(1)).as("n"))
      .collect()
    rows.groupBy(_.getInt(0)).toArray.sortBy(_._1).map { case (sh, rs) =>
      val arr = new Array[Double](rs.map(_.getInt(1)).max + 1)
      rs.foreach { r =>
        arr(r.getInt(1)) = r.getDecimal(2).doubleValue() / r.getLong(3)
      }
      (sh, arr)
    }
  }

  private def cosineDbl(a: Array[Float], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i)
      na += a(i).toDouble * a(i)
      nb += b(i) * b(i)
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 1.0 else 1.0 - dot / denom
  }

  /** The nprobe shards whose centroids are cosine-nearest the query
    * (ties → smaller shard id), ascending shard id — an O(nShards·dim)
    * driver-side closed form, the graph twin of `Ann.probeIds`.
    */
  def routeShards(centroids: Array[(Int, Array[Double])],
                  queryVec: Array[Float], nprobe: Int): Seq[Int] =
    centroids.map { case (sh, c) => (cosineDbl(queryVec, c), sh) }
      .sortBy(t => (t._1, t._2)).take(nprobe).map(_._2).sorted
}
