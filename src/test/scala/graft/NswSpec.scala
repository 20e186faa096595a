package graft

import graft.operators.{Knn, Nsw}
import graft.queries.QueryVectors
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Operator tests for the sharded graph-ANN (the graph family member
  * beside IVF/LSH/PQ), at level cap 0 (flat NSW) and at
  * [[Nsw.HnswMaxLevel]] (HNSW). The registered query's hash gate covers
  * the exact re-rank; these cover the GRAPH: build invariants, search
  * determinism, exhaustive-beam exactness, and recall vs exact KNN.
  */
class NswSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf("sf0.001"))
  private val q = QueryVectors.queryVec64
  private val p = Nsw.Params(nShards = 4, m = 8, efConstruction = 32, efSearch = 32)
  private val ph = p.copy(maxLevel = Nsw.HnswMaxLevel)

  private lazy val graph = Nsw.buildGraph(emb, "embedding", "vec_id", p).cache()

  private def layersOf(r: Row): Seq[Seq[Long]] =
    r.getSeq[scala.collection.Seq[Long]](r.fieldIndex("layers")).map(_.toSeq).toSeq

  private def layer0(r: Row): Seq[Long] = layersOf(r).head

  /** One query through the full-fan search over a freshly opened
    * `g`: (ranked rows, the query's candidate ids).
    */
  private def search1(g: DataFrame, qv: Array[Float], pp: Nsw.Params): (DataFrame, Seq[Long]) = {
    val (res, byQ) = Nsw.batchSearch(Nsw.openGraph(g, pp.nShards), "vec_id", Seq(0 -> qv), 10, pp)
    (res, byQ.getOrElse(0, Seq.empty))
  }

  /** The graph store's own shard of every node. */
  private def shardOf(g: DataFrame): Map[Long, Int] =
    g.select("vec_id", "shard").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  /** Per shard, the nodes not reachable at layer 0 from the shard's
    * entry (highest level, ties to the smallest id).
    */
  private def unreachableAtLayer0(rows: Array[Row]): Map[Int, Int] =
    rows.groupBy(_.getAs[Int]("shard")).map { case (shard, rs) =>
      val adj = rs.map(r => r.getAs[Long]("vec_id") -> layer0(r)).toMap
      val entry = rs.minBy(r =>
        (-r.getAs[Int]("level"), r.getAs[Long]("vec_id"))).getAs[Long]("vec_id")
      val seen = collection.mutable.Set(entry)
      val stack = collection.mutable.Stack(entry)
      while (stack.nonEmpty)
        adj(stack.pop()).foreach(n => if (seen.add(n)) stack.push(n))
      shard -> (adj.size - seen.size)
    }

  test("graph covers every corpus vector, degree-capped, no self-loops") {
    val rows = graph.collect()
    assert(rows.length == emb.count())
    rows.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      assert(r.getAs[Int]("level") == 0 && layersOf(r).length == 1,
        s"node $id is not a level-0 node at cap 0")
      val nbrs = layer0(r)
      assert(nbrs.length <= p.maxDegree, s"node $id degree ${nbrs.length} > ${p.maxDegree}")
      assert(!nbrs.contains(id), s"node $id has a self-loop")
      assert(nbrs.distinct.length == nbrs.length, s"node $id has duplicate edges")
      assert(r.getAs[Int]("shard") == (id % p.nShards).toInt)
    }
  }

  test("every non-entry node is reachable from its shard entry (connectivity)") {
    unreachableAtLayer0(graph.collect()).foreach { case (shard, n) =>
      assert(n == 0, s"shard $shard: $n nodes unreachable from entry")
    }
  }

  test("exhaustive beam (ef >= shard size) returns the exact per-shard ranking") {
    // with ef covering the whole shard the beam must visit everything
    // reachable, so the candidate union contains the exact global top-10
    val pAll = p.copy(efSearch = 1000)
    val (res, cands) = search1(graph, q, pAll)
    val exact = Knn.search(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(exact.toSet.subsetOf(cands.toSet))
    assert(res.select("vec_id").collect().map(_.getLong(0)).toSeq == exact)
  }

  test("search is deterministic: identical candidates and results across runs") {
    val (r1, c1) = search1(graph, q, p)
    val (r2, c2) = search1(graph, q, p)
    assert(c1 == c2)
    assert(r1.collect().toSeq == r2.collect().toSeq)
  }

  test("default-ef beam reaches recall@10 >= 0.8 vs exact KNN on the fixture") {
    val (res, cands) = search1(graph, q, p)
    assert(cands.length <= p.nShards * p.efSearch)
    val got = res.select("vec_id").collect().map(_.getLong(0)).toSet
    val exact = Knn.search(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (got & exact).size / 10.0
    assert(recall >= 0.8, s"NSW recall@10 = $recall")
  }

  test("clustered corpus: diverse-neighbor selection keeps the graph navigable") {
    // plain nearest-m trimming severs the long-range inter-cluster
    // edges and fragments the graph (mean recall@10 was 0.48 at ef=32
    // before the select-neighbors heuristic); this is the regression
    // lock on the regime real embedding corpora live in
    val emb = RecallDump.clusteredCorpus(spark, n = 2000, dim = 64,
      nClusters = 32, sigma = 0.15, seed = 7L).cache()
    val graph = Nsw.buildGraph(emb, "embedding", "vec_id", p).cache()
    val qs = emb.filter(col("vec_id") % 200 === 10)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val recalls = qs.map { qv =>
      val exact = Knn.search(emb, "embedding", "vec_id", qv, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val got = search1(graph, qv, p)
        ._1.select("vec_id").collect().map(_.getLong(0)).toSet
      (exact & got).size / 10.0
    }
    graph.unpersist(); emb.unpersist()
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.9, s"clustered-corpus mean recall@10 = $mean (${recalls.mkString(", ")})")
  }

  test("incremental append: full node set, graph stays connected, recall holds") {
    // base = 4/5 of the corpus, batch = the held-out 1/5 inserted into
    // the persisted-shape graph through the same insertion procedure
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    val appended = Nsw.appendToGraph(
      Nsw.buildGraph(base, "embedding", "vec_id", p),
      batch, "embedding", "vec_id", p).cache()
    // membership: append ≡ rebuild, node for node
    val got = appended.select("vec_id").collect().map(_.getLong(0)).toSet
    val want = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == want)
    // every shard still connected from its entry; degrees still capped
    val rows = appended.collect()
    rows.foreach(r => assert(layer0(r).length <= p.maxDegree))
    unreachableAtLayer0(rows).foreach { case (shard, n) =>
      assert(n == 0, s"shard $shard disconnected after append")
    }
    // batch vectors are actually findable: search quality holds
    val (res, _) = search1(appended, q, p)
    val exact = Knn.search(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val gotTop = res.select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (gotTop & exact).size / 10.0
    appended.unpersist()
    assert(recall >= 0.8, s"post-append recall@10 = $recall")
  }

  test("append is idempotent: replaying a batch neither duplicates nor rewires") {
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    val once = Nsw.appendToGraph(
      Nsw.buildGraph(base, "embedding", "vec_id", p),
      batch, "embedding", "vec_id", p).cache()
    val twice = Nsw.appendToGraph(once, batch, "embedding", "vec_id", p)
    val a = once.collect().map(r => (r.getLong(1), layersOf(r))).sortBy(_._1).toSeq
    val b = twice.collect().map(r => (r.getLong(1), layersOf(r))).sortBy(_._1).toSeq
    once.unpersist()
    assert(a == b, "replaying the same batch changed the graph")
  }

  test("batchSearch agrees with the single-query path, query by query") {
    val queries = graft.queries.VectorQueries.batchQueryVecs.take(3)
    val (res, cands) = Nsw.batchSearch(Nsw.openGraph(graph, p.nShards),
      "vec_id", queries, k = 3, p)
    val rows = res.select("query_id", "knn_rank", "vec_id").collect()
      .groupBy(_.getInt(0))
    queries.foreach { case (qid, qv) =>
      // the batch path's top-3 for this query must equal an exact rank
      // over the SAME candidate set through the single-query machinery
      val want = Knn.search(
        emb.filter(col("vec_id").isin(cands(qid): _*)),
        "embedding", "vec_id", qv, k = 3)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      val got = rows(qid).sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      assert(got == want, s"query $qid: batch=$got single=$want")
      assert(rows(qid).map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3))
    }
  }

  test("beam cost is sublinear: default ef visits a fraction of each shard") {
    // the candidate list per shard is capped at efSearch = 32 of ~125
    // shard rows — the emitted row bound that holds at any scale
    val shard = shardOf(graph)
    val perShard = search1(graph, q, p)._2.groupBy(shard).values.map(_.length)
    assert(perShard.nonEmpty && perShard.forall(_ <= p.efSearch))
  }

  // ---- arrival-window sharding (the appendy-deployment layout) ----

  /** (fileName → (length, contentHash)) inventory of one shard dir. */
  private def shardInventory(store: String, shard: Int): Map[String, (Long, Int)] = {
    val dir = new java.io.File(store, s"shard=$shard")
    dir.listFiles().filter(f => f.isFile && !f.getName.startsWith(".")
        && !f.getName.startsWith("_"))
      .map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        f.getName -> (f.length(), java.util.Arrays.hashCode(bytes))
      }.toMap
  }

  test("windowed append rewrites ONLY the touched shard; cold dirs byte-identical") {
    val ws = 125L // four windows over vec_id 0..499
    val store = java.nio.file.Files
      .createTempDirectory("nsw_window").toString + "/nsw"
    Nsw.writeGraph(Nsw.buildGraphWindowed(
      emb.filter(col("vec_id") < 3 * ws), "embedding", "vec_id", ws, p), store)
    val before = (0 to 2).map(sh => sh -> shardInventory(store, sh)).toMap
    Nsw.appendToGraphWindowed(spark, store,
      emb.filter(col("vec_id") >= 3 * ws), "embedding", "vec_id", ws, p)
    // the three cold shards kept their exact files — name, length, bytes
    (0 to 2).foreach { sh =>
      assert(shardInventory(store, sh) == before(sh),
        s"cold shard=$sh was rewritten by a batch that never touched it")
    }
    // the hot shard exists and holds exactly the newest window
    val hot = Nsw.readGraph(spark, store).filter(col("shard") === 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(hot == (3 * ws to 499L).toSet)
  }

  test("windowed append ≡ windowed full rebuild, edge for edge") {
    // a strictly-newer batch inserts LAST in both paths (ascending-id
    // insertion), so the appended store must be graph-identical to a
    // from-scratch windowed build of the full corpus — a stronger gate
    // than hash-shard append (where the batch interleaves) can state
    val ws = 125L
    val store = java.nio.file.Files
      .createTempDirectory("nsw_window_eq").toString + "/nsw"
    Nsw.writeGraph(Nsw.buildGraphWindowed(
      emb.filter(col("vec_id") < 3 * ws), "embedding", "vec_id", ws, p), store)
    Nsw.appendToGraphWindowed(spark, store,
      emb.filter(col("vec_id") >= 3 * ws), "embedding", "vec_id", ws, p)
    def edges(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Int]("shard"), r.getAs[Long]("vec_id"), layersOf(r)))
      .sortBy(t => (t._1, t._2)).toSeq
    val appended = edges(Nsw.readGraph(spark, store))
    val rebuilt = edges(Nsw.buildGraphWindowed(emb, "embedding", "vec_id", ws, p))
    assert(appended == rebuilt, "windowed append diverged from windowed rebuild")
  }

  test("search over a windowed store: recall holds, per-shard candidates bounded") {
    val ws = 125L
    val wgraph = Nsw.buildGraphWindowed(emb, "embedding", "vec_id", ws, p).cache()
    val shard = shardOf(wgraph)
    val (res, cands) = search1(wgraph, q, p)
    val perShard = cands.groupBy(shard).values.map(_.length)
    assert(perShard.size == 4 && perShard.forall(_ <= p.efSearch))
    val exact = Knn.search(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val gotTop = res.select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (gotTop & exact).size / 10.0
    wgraph.unpersist()
    assert(recall >= 0.8, s"windowed-store recall@10 = $recall")
  }

  // ---------------- HNSW layer hierarchy ----------------

  private lazy val hnsw = Nsw.buildGraph(emb, "embedding", "vec_id", ph).cache()

  test("hnsw: levels are the deterministic md5 draw; layer stacks sized level+1") {
    val rows = hnsw.collect()
    assert(rows.length == emb.count())
    rows.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val lvl = r.getAs[Int]("level")
      val layers = r.getSeq[scala.collection.Seq[Long]](r.fieldIndex("layers"))
      assert(lvl == Nsw.hnswLevel(id, p.m, Nsw.HnswMaxLevel),
        s"node $id level $lvl is not its id-pure draw")
      assert(layers.length == lvl + 1, s"node $id carries ${layers.length} layers for level $lvl")
    }
    // geometric decay: each layer holds roughly 1/m of the one below —
    // at fixture sizes just assert monotone non-increasing occupancy
    // and a non-empty layer 1 (P(level>=1)=1/8 over 1000 nodes)
    val occupancy = rows.flatMap(r => 0 to r.getAs[Int]("level"))
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(occupancy(0) == rows.length)
    assert(occupancy.getOrElse(1, 0) > 0, "layer 1 unexpectedly empty")
    occupancy.toSeq.sorted.sliding(2).foreach {
      case Seq((_, lo), (_, hi)) => assert(hi <= lo,
        s"layer occupancy must decay: $occupancy")
      case _ =>
    }
  }

  test("hnsw: upper-layer edges only reach nodes that live on that layer; degrees capped") {
    val rows = hnsw.collect()
    val levelOf = rows.map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("level")).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val layers = r.getSeq[scala.collection.Seq[Long]](r.fieldIndex("layers"))
      layers.zipWithIndex.foreach { case (nbrs, l) =>
        val cap = if (l == 0) p.maxDegree else p.m
        assert(nbrs.length <= cap, s"node $id layer $l degree ${nbrs.length} > $cap")
        assert(!nbrs.contains(id), s"node $id self-loop at layer $l")
        assert(nbrs.distinct.length == nbrs.length, s"node $id duplicate edges at layer $l")
        nbrs.foreach(nb => assert(levelOf(nb) >= l,
          s"node $id layer-$l edge to $nb which only reaches level ${levelOf(nb)}"))
      }
    }
  }

  test("hnsw: layer 0 stays connected from the top-level entry") {
    unreachableAtLayer0(hnsw.collect()).foreach { case (shard, n) =>
      assert(n == 0, s"shard $shard: $n nodes unreachable at layer 0")
    }
  }

  test("hnsw: search is deterministic and recall@10 >= 0.8 vs exact") {
    val (r1, c1) = search1(hnsw, q, ph)
    val (r2, c2) = search1(hnsw, q, ph)
    assert(c1 == c2)
    assert(c1.length <= p.nShards * p.efSearch)
    assert(r1.collect().toSeq == r2.collect().toSeq)
    val got = r1.select("vec_id").collect().map(_.getLong(0)).toSet
    val exact = Knn.search(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (got & exact).size / 10.0
    assert(recall >= 0.8, s"HNSW recall@10 = $recall")
  }

  test("hnsw: exhaustive layer-0 beam returns the exact per-shard ranking") {
    val pAll = ph.copy(efSearch = 1000)
    val (res, cands) = search1(hnsw, q, pAll)
    val exact = Knn.search(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(exact.toSet.subsetOf(cands.toSet))
    assert(res.select("vec_id").collect().map(_.getLong(0)).toSeq == exact)
  }

  test("hnsw: store round trip is byte-stable (two builds identical)") {
    val again = Nsw.buildGraph(emb, "embedding", "vec_id", ph)
    val a = hnsw.orderBy("vec_id").collect().toSeq
    val b = again.orderBy("vec_id").collect().toSeq
    assert(a == b, "two HNSW builds of one corpus must be identical")
  }

  test("hnsw: strictly-newer append ≡ full rebuild, byte for byte (levels are id-pure)") {
    // a batch of strictly-newer ids replays exactly the tail of a full
    // rebuild: ascending-id insertion + id-pure levels leave NO state
    // the append path could diverge on — the strongest append contract
    // in the index family (the interleaved flat append below asserts
    // node-set equality; its edges are pinned by a golden fingerprint)
    val cut = emb.agg(max(col("vec_id"))).first().getLong(0) / 4 * 3
    val base = Nsw.buildGraph(
      emb.filter(col("vec_id") < cut), "embedding", "vec_id", ph)
    val appended = Nsw.appendToGraph(base,
      emb.filter(col("vec_id") >= cut), "embedding", "vec_id", ph)
    val a = appended.orderBy("vec_id").collect().toSeq
    val b = hnsw.orderBy("vec_id").collect().toSeq
    assert(a == b, "append of a strictly-newer batch must equal the rebuild exactly")
    // idempotence: replaying the batch changes nothing
    val replay = Nsw.appendToGraph(appended,
      emb.filter(col("vec_id") >= cut), "embedding", "vec_id", ph)
    assert(replay.orderBy("vec_id").collect().toSeq == b,
      "replaying the batch must be a no-op")
  }

  test("append: duplicate vec_ids WITHIN one batch insert once (≡ dedup'd batch)") {
    // a batch that carries the same vec_id twice must not insert twice —
    // the second insert would reset the node's layer stack while
    // backlinks from the first persist in other nodes' adjacency,
    // silently breaking append ≡ rebuild
    val cut = emb.agg(max(col("vec_id"))).first().getLong(0) / 4 * 3
    val base = Nsw.buildGraph(
      emb.filter(col("vec_id") < cut), "embedding", "vec_id", ph)
    val batch = emb.filter(col("vec_id") >= cut)
    val dup = Nsw.appendToGraph(base, batch.union(batch),
      "embedding", "vec_id", ph)
    assert(dup.orderBy("vec_id").collect().toSeq ==
      hnsw.orderBy("vec_id").collect().toSeq,
      "a batch with internal duplicates must append like its dedup'd self")
    val flatBase = Nsw.buildGraph(
      emb.filter(col("vec_id") < cut), "embedding", "vec_id", p)
    val flatDup = Nsw.appendToGraph(flatBase, batch.union(batch),
      "embedding", "vec_id", p)
    val flatOnce = Nsw.appendToGraph(flatBase, batch,
      "embedding", "vec_id", p)
    assert(flatDup.orderBy("vec_id").collect().toSeq ==
      flatOnce.orderBy("vec_id").collect().toSeq)
  }

  // ------------------------------------------------------------------
  // Shard router
  // ------------------------------------------------------------------

  private lazy val routerCents = Nsw.shardCentroids(hnsw)

  /** One query through the routed search over a freshly opened `g`:
    * (ranked rows, the query's candidate ids, its routed shards).
    */
  private def routed1(g: DataFrame, qv: Array[Float], cents: Array[(Int, Array[Double])],
                      nprobe: Int, pp: Nsw.Params): (DataFrame, Seq[Long], Seq[Int]) = {
    val (res, byQ, routes) = Nsw.routedBatchSearch(Nsw.openGraph(g, pp.nShards), "vec_id",
      Seq(0 -> qv), 10, cents, nprobe, pp)
    (res, byQ.getOrElse(0, Seq.empty), routes(0))
  }

  test("router: centroids cover every shard and are shuffle-order-independent") {
    assert(routerCents.map(_._1).toSeq == (0 until p.nShards))
    val again = Nsw.shardCentroids(hnsw.repartition(13))
    assert(routerCents.map { case (s, a) => (s, a.toSeq) }.toSeq ==
      again.map { case (s, a) => (s, a.toSeq) }.toSeq,
      "exact DECIMAL sums must make centroids partitioning-independent")
  }

  test("router: routed candidates ≡ the full fan's restricted to the routed shards") {
    val (_, candsR, routed) = routed1(hnsw, q, routerCents, nprobe = 2, ph)
    assert(routed.length == 2 && routed == routed.sorted)
    val shard = shardOf(hnsw)
    val restricted = search1(hnsw, q, ph)._2.filter(id => routed.contains(shard(id)))
    assert(candsR == restricted,
      "per-shard beams are independent — routing must only drop shards")
  }

  test("router: nprobe = nShards ≡ the full fan; recall degrades gracefully at nprobe 2") {
    val (resFull, candsFull) = search1(hnsw, q, ph)
    val (resAll, candsAll, _) = routed1(hnsw, q, routerCents, nprobe = p.nShards, ph)
    assert(candsAll == candsFull)
    assert(resAll.collect().toSeq == resFull.collect().toSeq)
    val exact = Knn.search(emb, "embedding", "vec_id", q, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def recall(res: DataFrame): Double = {
      val got = res.select("vec_id").collect().map(_.getLong(0)).toSet
      (got & exact).size / 10.0
    }
    val (res2, _, _) = routed1(hnsw, q, routerCents, nprobe = 2, ph)
    val r2 = recall(res2); val rf = recall(resFull)
    // under HASH sharding every shard sees the same distribution, so
    // routing approximates a uniform shard sample: recall ≈ rf·nprobe/n
    // is the expected FLOOR (a locality-bearing shard key is the routed
    // deployment's layout — scaladoc'd); full fan is the ceiling
    assert(r2 <= rf + 1e-9, s"routed recall $r2 cannot beat the full fan $rf")
    assert(r2 >= 0.2, s"routed recall collapsed: $r2")
  }

  test("routed batch: per-query candidates ≡ the full batch fan restricted to that query's routed shards") {
    val queries = QueryVectors.queryVec64 match {
      case base =>
        // five deterministic perturbations of the flagship query — the
        // routes must differ across queries for the test to bite
        (0 until 5).map(i => i -> base.zipWithIndex.map {
          case (v, j) => if (j % 5 == i) v + 0.35f else v
        })
    }
    val flatCents = Nsw.shardCentroids(graph)
    val (res, byQ, routes) = Nsw.routedBatchSearch(Nsw.openGraph(graph, p.nShards),
      "vec_id", queries, k = 3, flatCents, nprobe = 2, p)
    assert(routes.keySet == queries.map(_._1).toSet)
    routes.values.foreach(r => assert(r.length == 2 && r == r.sorted))
    assert(routes.values.toSet.size > 1,
      "perturbed queries should route differently; widen the perturbation if not")
    // full fan per query, restricted to that query's routed shards
    val shard = shardOf(graph)
    queries.foreach { case (qid, qv) =>
      val restricted = search1(graph, qv, p)._2.filter(id => routes(qid).contains(shard(id)))
      assert(byQ(qid) == restricted,
        s"query $qid: routed-batch candidates must be the full fan's restricted set")
    }
    // the ranked output re-ranks exactly the recorded candidates
    val got = res.orderBy(col("query_id"), col("knn_rank")).collect()
      .map(r => (r.getAs[Int]("query_id"), r.getAs[Long]("vec_id")))
    queries.foreach { case (qid, qv) =>
      val exact = Knn.search(
        emb.filter(col("vec_id").isin(byQ(qid).map(java.lang.Long.valueOf): _*)),
        "embedding", "vec_id", qv, 3)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(got.filter(_._1 == qid).map(_._2).toSeq == exact)
    }
  }

  test("opened-graph search ≡ brute-force exact top-k of the recorded candidates, bit for bit (zero vector included)") {
    import spark.implicits._
    // one all-zero corpus vector: its cosine distance is NULL, and the
    // SQL re-rank orders NULLs FIRST — the in-task re-rank must agree
    val zeroId = 500L
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .union(Seq((zeroId, Seq.fill(64)(0f))).toDF("vec_id", "embedding"))
      .cache()
    val zgraph = Nsw.buildGraph(corpus, "embedding", "vec_id", p).cache()
    val cents = Nsw.shardCentroids(zgraph)
    val queries = (0 until 5).map(i => i -> q.zipWithIndex.map {
      case (v, j) => if (j % 5 == i) v + 0.35f else v
    })
    val k = 5
    def exact(qid: Int, qv: Array[Float], cands: Seq[Long]) =
      Knn.search(corpus.filter(col("vec_id").isin(cands: _*)),
          "embedding", "vec_id", qv, k)
        .select(col("vec_id"), col("distance_score")).collect().toSeq
        .zipWithIndex.map { case (r, i) => (qid, i + 1, r.getLong(0), r.get(1)) }
    def rows(res: org.apache.spark.sql.DataFrame) =
      res.select(col("query_id"), col("knn_rank"), col("vec_id"),
          col("distance_score")).collect().toSeq
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.get(3)))
    var zeroRanked = 0
    try {
      Seq(p, p.copy(efSearch = 1000)).foreach { pp =>
        val opened = Nsw.openGraph(zgraph, pp.nShards)
        // single-query requests, then the whole batch, on ONE opened graph
        val single = queries.map { case (qid, qv) =>
          val (res, byQ, _) = Nsw.routedBatchSearch(opened, "vec_id",
            Seq(qid -> qv), k, cents, nprobe = 2, pp)
          (rows(res), byQ)
        }
        val (bres, bByQ, _) = Nsw.routedBatchSearch(opened, "vec_id",
          queries, k, cents, nprobe = 2, pp)
        val batchRows = rows(bres)
        queries.foreach { case (qid, qv) =>
          val (srows, sByQ) = single(qid)
          assert(sByQ(qid) == bByQ(qid), s"query $qid: single vs batch candidates")
          val want = exact(qid, qv, bByQ(qid))
          assert(srows == want, s"query $qid (ef=${pp.efSearch}) single: $srows\nexact: $want")
          assert(batchRows.filter(_._1 == qid) == want,
            s"query $qid (ef=${pp.efSearch}) batch vs exact")
          if (want.exists(r => r._3 == zeroId && r._2 == 1 && r._4 == null)) zeroRanked += 1
        }
      }
      assert(zeroRanked > 0,
        "the zero vector must reach some query's candidates (and rank first, NULL)")
    } finally { zgraph.unpersist(); corpus.unpersist() }
  }

  // ------------------------------------------------------------------
  // Windowed-swap writer-liveness sentinel
  // ------------------------------------------------------------------

  test("swap sentinel: a live writer's marker fences read-side recovery; a dead one recovers") {
    val root = java.nio.file.Files.createTempDirectory("graft_nsw_sentinel").toString
    val store = s"$root/store"
    val ws = 128L
    Nsw.writeGraph(
      Nsw.buildGraphWindowed(emb, "embedding", "vec_id", ws, p), store)
    val total = Nsw.readGraph(spark, store).count()
    val victim = new java.io.File(store).list().filter(_.startsWith("shard=")).sorted.head
    // manufacture the mid-swap state a reader can land on: the victim
    // shard renamed out to the aside, not yet renamed back in
    val asideDir = new java.io.File(s"${store}_windowed_aside/$victim")
    asideDir.getParentFile.mkdirs()
    java.nio.file.Files.move(
      java.nio.file.Paths.get(store, victim), asideDir.toPath)
    val marker = java.nio.file.Paths.get(s"${store}_windowed_swap_inprogress")
    // live writer: the reader must NOT "recover" — restoring the old
    // bytes would fail the writer's rename-in and deleting the aside
    // reopens the data-loss window
    java.nio.file.Files.writeString(marker,
      ProcessHandle.current().pid().toString)
    val fenced = Nsw.readGraph(spark, store).count()
    assert(fenced < total, "reader sees the transient state, untouched")
    assert(asideDir.exists, "a fenced read must leave the aside alone")
    assert(java.nio.file.Files.exists(marker))
    // dead writer: the same state is now a crashed swap — recover it
    val deadPid = (200000L to 400000L)
      .find(pid => !ProcessHandle.of(pid).isPresent).get
    java.nio.file.Files.writeString(marker, deadPid.toString)
    assert(Nsw.readGraph(spark, store).count() == total)
    assert(!asideDir.exists && !java.nio.file.Files.exists(marker),
      "recovery must restore the shard and clear aside + marker")
    new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
  }

  // ------------------------------------------------------------------
  // Flat ≡ cap 0: golden adjacency, the entry rule, job pins
  // ------------------------------------------------------------------

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** md5 over the sorted (shard, vec_id, layer-0 neighbors, in stored order). */
  private def layer0Fingerprint(df: DataFrame): String =
    md5(df.collect()
      .map(r => (r.getAs[Int]("shard"), r.getAs[Long]("vec_id"), layer0(r).mkString(" ")))
      .sortBy(t => (t._1, t._2)).map(t => s"${t._1},${t._2},${t._3}").mkString("\n"))

  /** md5 over the sorted (shard, vec_id, level, layers). */
  private def layeredFingerprint(df: DataFrame): String =
    md5(df.collect()
      .map(r => (r.getAs[Int]("shard"), r.getAs[Long]("vec_id"), r.getAs[Int]("level"),
        layersOf(r).map(_.mkString(" ")).mkString("|")))
      .sortBy(t => (t._1, t._2)).map(t => s"${t._1},${t._2},${t._3},${t._4}").mkString("\n"))

  test("golden adjacency: cap-0 builds and appends reproduce the flat NSW graphs edge for edge") {
    // the flat NSW and HNSW graphs of the sf0.001 fixture at these
    // Params, edge for edge and in stored order: a mismatch means the
    // graphs, and so every candidate set the gates record, changed
    assert(layer0Fingerprint(graph) == "ace1891d91b4c7c515f62d21b6bacb6f", "flat build")
    val interleaved = Nsw.appendToGraph(
      Nsw.buildGraph(emb.filter(col("vec_id") % 5 =!= 0), "embedding", "vec_id", p),
      emb.filter(col("vec_id") % 5 === 0), "embedding", "vec_id", p)
    assert(layer0Fingerprint(interleaved) == "19659dc616a20e51dd9ffca3535d6bc1",
      "interleaved vec_id % 5 append")
    // at a two-node beam the node each insert starts from decides its
    // neighbors, so this pins the entry rule on append: a batch id
    // below every stored id takes over the entry
    val narrow = p.copy(m = 2, efConstruction = 2, efSearch = 2)
    val narrowInterleaved = Nsw.appendToGraph(
      Nsw.buildGraph(emb.filter(col("vec_id") % 5 =!= 0), "embedding", "vec_id", narrow),
      emb.filter(col("vec_id") % 5 === 0), "embedding", "vec_id", narrow)
    assert(layer0Fingerprint(narrowInterleaved) == "f9dcfc75ee79e2de612e062ca856217a",
      "interleaved vec_id % 5 append, m = 2, ef = 2")
    val ws = 125L
    val store = java.nio.file.Files
      .createTempDirectory("nsw_golden").toString + "/nsw"
    Nsw.writeGraph(Nsw.buildGraphWindowed(
      emb.filter(col("vec_id") < 3 * ws), "embedding", "vec_id", ws, p), store)
    Nsw.appendToGraphWindowed(spark, store,
      emb.filter(col("vec_id") >= 3 * ws), "embedding", "vec_id", ws, p)
    assert(layer0Fingerprint(Nsw.readGraph(spark, store)) ==
      "47e2b5aafb4d9f45185ac1c41452eb18", "windowed build + append")
    assert(layeredFingerprint(hnsw) == "6883619d65ccb64ad022ccfde42e1efa", "HNSW build")
  }

  test("entry rule: a shard holding vec_id -1 leaves no node without a layer-0 edge, at both caps") {
    import spark.implicits._
    // hash sharding (pmod) accepts negative ids; -1 must not read as
    // "no entry yet"
    val rnd = new scala.util.Random(11)
    val corpus = (-1L to 40L)
      .map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    Seq(0, Nsw.HnswMaxLevel).foreach { cap =>
      val rows = Nsw.buildGraph(corpus, "embedding", "vec_id",
        p.copy(nShards = 1, maxLevel = cap)).collect()
      assert(rows.length == 42)
      rows.foreach { r =>
        assert(layer0(r).nonEmpty, s"cap $cap: node ${r.getAs[Long]("vec_id")} has no layer-0 edge")
      }
      assert(unreachableAtLayer0(rows) == Map(0 -> 0), s"cap $cap: nodes unreachable at layer 0")
    }
  }

  test("job pins: a warm single-query search over a held opened graph runs 1 job and 1 stage, full fan and routed, at both caps") {
    val root = java.nio.file.Files.createTempDirectory("nsw_jobs").toString
    val counter = new JobCounter(spark)
    try {
      Seq(p, ph).foreach { pp =>
        val path = s"$root/cap${pp.maxLevel}"
        Nsw.writeGraph(Nsw.buildGraph(emb, "embedding", "vec_id", pp), path)
        val store = Nsw.readGraph(spark, path)
        val cents = Nsw.shardCentroids(store)
        val opened = Nsw.openGraph(store, pp.nShards)
        def pin(name: String)(run: => DataFrame): Unit = {
          run.collect() // warm: the first search runs the exchange
          counter.reset()
          assert(run.collect().length == 10)
          // the held exchange's map stage is skipped: one search job,
          // its result stage only, and the ranked rows are local
          assert(counter.settle() == ((1, 1)), s"cap ${pp.maxLevel} $name")
        }
        pin("batchSearch")(Nsw.batchSearch(opened, "vec_id", Seq(0 -> q), 10, pp)._1)
        pin("routedBatchSearch")(Nsw.routedBatchSearch(opened, "vec_id", Seq(0 -> q), 10,
          cents, nprobe = 2, pp)._1)
      }
    } finally {
      counter.close()
      new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
    }
  }

  test("malformed batches: duplicate query ids and k < 1 are rejected, full fan and routed") {
    val opened = Nsw.openGraph(graph, p.nShards)
    val cents = Nsw.shardCentroids(graph)
    val dup = Seq(3 -> q, 4 -> q, 3 -> q.map(_ * 2))
    val e1 = intercept[IllegalArgumentException](
      Nsw.batchSearch(opened, "vec_id", dup, 10, p))
    assert(e1.getMessage.contains("duplicate query ids: 3"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Nsw.routedBatchSearch(opened, "vec_id", dup, 10, cents, nprobe = 2, p))
    assert(e2.getMessage.contains("duplicate query ids: 3"), e2.getMessage)
    Seq(0, -1).foreach { k =>
      val e3 = intercept[IllegalArgumentException](
        Nsw.batchSearch(opened, "vec_id", Seq(0 -> q), k, p))
      assert(e3.getMessage.contains(s"got $k"), e3.getMessage)
      val e4 = intercept[IllegalArgumentException](
        Nsw.routedBatchSearch(opened, "vec_id", Seq(0 -> q), k, cents, nprobe = 2, p))
      assert(e4.getMessage.contains(s"got $k"), e4.getMessage)
    }
  }
}
