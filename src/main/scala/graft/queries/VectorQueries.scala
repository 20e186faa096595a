package graft.queries

import graft.Tables
import graft.functions.HashingEmbedder
import graft.operators.{Ann, IvfPq, Knn, Nsw, Pq}
import org.apache.spark.sql.functions._

/** Vector-search surface beyond the flagship exact-KNN pair in
  * [[Queries]]: filtered (hybrid) search, L2 metric, batch multi-query
  * search, RAG context assembly, and IVF approximate search (SURVEY
  * §2.6, §7.2).
  */
object VectorQueries {

  /** Exact decimal float literals — single source of truth in [[Duck]]
    * (three drifting copies existed before round 5's consolidation).
    */
  private def vecLit(v: Array[Float]): String = Duck.vecLit(v)

  private val embedder = HashingEmbedder(dim = 64, seed = 7)

  /** DuckDB sequential-order L2 distance between DOUBLE[] expressions. */
  private def duckL2(a: String, b: String): String =
    s"sqrt(list_sum(list_transform(range(len($a)), i -> (($a)[i+1] - ($b)[i+1]) * (($a)[i+1] - ($b)[i+1]))))"

  /** Cosine over a raw (float-array) column expression: delegates to the
    * single [[Duck.cosine]] builder with the ::DOUBLE[] widening cast.
    */
  private def duckCosine(vecExpr: String, qLit: String): String =
    Duck.cosine(s"$vecExpr::DOUBLE[]", qLit)

  private val filtered = QueryDef(
    "knn_filtered_hybrid",
    "Hybrid search: relational predicate (label IN …) + exact cosine " +
      "top-k. The filter applies BEFORE the distance, so it reaches the " +
      "parquet scan (PushedFilters) — with label-partitioned storage it " +
      "prunes files entirely.",
    (s, dir) => {
      val q = QueryVectors.queryVec64
      Knn.filteredSearch(Tables.embeddings(s, dir),
          col("label").isin(2, 5, 8), "embedding", "vec_id", q, k = 10)
        .select(col("vec_id"), col("label"),
          round(col("distance_score"), 6).as("distance"))
        .orderBy(col("distance"), col("vec_id"))
    },
    Some(s"""
      |WITH d AS (
      |  SELECT vec_id, label,
      |         ${duckCosine("embedding", vecLit(QueryVectors.queryVec64))} AS dist
      |  FROM embeddings WHERE label IN (2, 5, 8)
      |), top AS (
      |  SELECT vec_id, label, dist FROM d ORDER BY dist, vec_id LIMIT 10
      |)
      |SELECT vec_id, label, round(dist, 6) AS distance
      |FROM top ORDER BY distance, vec_id
      """.stripMargin.trim))

  private val l2Search = QueryDef(
    "knn_exact_l2",
    "Exact top-k under Euclidean (L2) distance — same " +
      "TakeOrderedAndProject plan as the cosine flagship, different " +
      "metric expression.",
    (s, dir) => {
      val q = QueryVectors.queryVec64
      Knn.search(Tables.embeddings(s, dir), "embedding", "vec_id", q,
          k = 10, metric = Knn.L2)
        .select(col("vec_id"), round(col("distance_score"), 6).as("distance"))
        .orderBy(col("distance"), col("vec_id"))
    },
    Some(s"""
      |WITH d AS (
      |  SELECT vec_id,
      |         ${duckL2("embedding::DOUBLE[]", vecLit(QueryVectors.queryVec64))} AS dist
      |  FROM embeddings
      |), top AS (
      |  SELECT vec_id, dist FROM d ORDER BY dist, vec_id LIMIT 10
      |)
      |SELECT vec_id, round(dist, 6) AS distance
      |FROM top ORDER BY distance, vec_id
      """.stripMargin.trim))

  /** Five deterministic query vectors for the batch search. */
  val batchQueryVecs: Seq[(Int, Array[Float])] =
    (0 until 5).map(i => i -> embedder.encode(s"batch query $i"))

  /** One-shot batch-KNN oracle SQL over [[batchQueryVecs]] — SHARED by
    * `knn_batch` and the streaming `stream_serve_knn` gate, whose whole
    * premise is "final sink ≡ this SQL": a single builder means a
    * parity fix to one can never strand the other.
    */
  private[queries] def duckBatchKnnSql(k: Int): String = {
    val values = batchQueryVecs
      .map { case (i, v) => s"($i, ${vecLit(v)})" }.mkString(",\n         ")
    s"""
    |WITH queries(query_id, qv) AS (
    |  VALUES $values
    |), d AS (
    |  SELECT q.query_id, e.vec_id,
    |         ${duckCosine("e.embedding", "q.qv")} AS dist,
    |         row_number() OVER (PARTITION BY q.query_id
    |                            ORDER BY ${duckCosine("e.embedding", "q.qv")}, e.vec_id) AS knn_rank
    |  FROM embeddings e CROSS JOIN queries q
    |)
    |SELECT query_id, knn_rank, vec_id, round(dist, 6) AS distance
    |FROM d WHERE knn_rank <= $k ORDER BY query_id, knn_rank
    """.stripMargin.trim
  }

  private val batch = QueryDef(
    "knn_batch",
    "Batch KNN: top-3 per query for a broadcast table of 5 query " +
      "vectors (BroadcastNestedLoopJoin — the corpus never shuffles; " +
      "only |queries|×k rows survive the per-query rank).",
    (s, dir) => {
      import s.implicits._
      val queries = s.createDataFrame(
        batchQueryVecs.map { case (i, v) => (i, v.toSeq) })
        .toDF("query_id", "query_vec")
      Knn.batchSearch(Tables.embeddings(s, dir), queries,
          "embedding", "vec_id", "query_vec", "query_id", k = 3)
        .select(col("query_id"), col("knn_rank").cast("long").as("knn_rank"), col("vec_id"),
          round(col("distance_score"), 6).as("distance"))
        .orderBy(col("query_id"), col("knn_rank"))
    },
    Some(duckBatchKnnSql(k = 3)))

  private val ragContext = QueryDef(
    "rag_context",
    "RAG context assembly (streamlit_app.py:234-238): top-5 hits → " +
      "match-score lines, score-descending, collapsed to one context " +
      "string (collect_list + array_join pushed into the engine).",
    (s, dir) => {
      val q = QueryVectors.queryVec64
      val hits = Knn.search(Tables.embeddings(s, dir), "embedding", "vec_id", q, k = 5)
        .select(col("vec_id"), col("distance_score"),
          round((lit(1.0) - round(col("distance_score"), 6)) * 100.0, 2).as("match_score"))
      hits
        .select(struct(round(col("distance_score"), 6).as("d"), col("vec_id"),
          concat(col("vec_id").cast("string"), lit(": "),
            col("match_score").cast("string"), lit("%")).as("line")).as("h"))
        .agg(count(lit(1)).as("n_results"),
          array_join(transform(sort_array(collect_list(col("h"))), h => h.getField("line")), "\n")
            .as("context_md"))
    },
    Some(s"""
      |WITH d AS (
      |  SELECT vec_id, ${duckCosine("embedding", vecLit(QueryVectors.queryVec64))} AS dist
      |  FROM embeddings ORDER BY dist, vec_id LIMIT 5
      |), m AS (
      |  SELECT vec_id, dist,
      |         round((1.0 - round(dist, 6)) * 100.0, 2) AS match_score
      |  FROM d
      |)
      |SELECT count(*) AS n_results,
      |       string_agg(vec_id::VARCHAR || ': ' || match_score::VARCHAR || '%', chr(10)
      |                  ORDER BY round(dist, 6), vec_id) AS context_md
      |FROM m
      """.stripMargin.trim))

  private val ivf = QueryDef(
    "ann_ivf_probe",
    "IVF approximate search: 8 deterministic centroids (vectors of ids " +
      "0–7), corpus assigned to nearest centroid, query probes the 3 " +
      "nearest lists, exact cosine top-10 within them. With cluster-" +
      "partitioned storage the probe filter is partition pruning — " +
      "~nprobe/nlist of the corpus is read.",
    (s, dir) => {
      val q = QueryVectors.queryVec64
      val corpus = Tables.embeddings(s, dir)
      val cents = Ann.seededCentroids(corpus, "embedding", "vec_id", nlist = 8)
      val indexed = Ann.assignClusters(corpus, "embedding", cents)
      Ann.search(indexed, "embedding", "vec_id", q, k = 10, cents, nprobe = 3)
        .select(col("vec_id"), col("cluster_id").cast("long").as("cluster_id"),
          round(col("distance_score"), 6).as("distance"))
        .orderBy(col("distance"), col("vec_id"))
    },
    Some {
      val qLit = vecLit(QueryVectors.queryVec64)
      s"""
      |WITH cents AS (
      |  SELECT vec_id AS cid, embedding::DOUBLE[] AS c FROM embeddings WHERE vec_id < 8
      |), assigned AS (
      |  SELECT vec_id, embedding, cid AS cluster_id FROM (
      |    SELECT e.vec_id, e.embedding, c.cid,
      |           row_number() OVER (PARTITION BY e.vec_id
      |                              ORDER BY ${duckL2("e.embedding::DOUBLE[]", "c.c")}, c.cid) AS rn
      |    FROM embeddings e CROSS JOIN cents c
      |  ) WHERE rn = 1
      |), probes AS (
      |  SELECT cid FROM cents ORDER BY ${duckL2(qLit, "c")}, cid LIMIT 3
      |), d AS (
      |  SELECT vec_id, cluster_id,
      |         ${duckCosine("embedding", qLit)} AS dist
      |  FROM assigned WHERE cluster_id IN (SELECT cid FROM probes)
      |), top AS (
      |  SELECT vec_id, cluster_id, dist FROM d ORDER BY dist, vec_id LIMIT 10
      |)
      |SELECT vec_id, cluster_id, round(dist, 6) AS distance
      |FROM top ORDER BY distance, vec_id
      """.stripMargin.trim
    })

  /** Query vector for the LSH probe — md5-portable so the oracle can
    * embed the identical literal.
    */
  private val lshQueryVec =
    graft.functions.Md5PortableEmbedder(dim = 64).encode("graft lsh probe query")

  private val lshProbe = QueryDef(
    "ann_lsh_probe",
    "Random-hyperplane LSH search with md5-derived ±1 (Rademacher) " +
      "planes: 8 sign bits → 256 buckets, multi-probe at hamming radius " +
      "1 (9 buckets), exact cosine top-10 within. Bucket-partitioned " +
      "storage turns the probe IN-filter into partition pruning; the " +
      "oracle recomputes planes, buckets, and the hamming probe set " +
      "entirely in SQL.",
    (s, dir) => {
      val planes = Ann.signPlanes(dim = 64, nBits = 8)
      val bucketed = Ann.assignLshBuckets(Tables.embeddings(s, dir), "embedding", planes)
      Ann.lshSearch(bucketed, "embedding", "vec_id", lshQueryVec, k = 10,
          planes, radius = 1)
        .select(col("vec_id"), col("lsh_bucket"),
          round(col("distance_score"), 6).as("distance"))
        .orderBy(col("distance"), col("vec_id"))
    },
    Some {
      val qLit = vecLit(lshQueryVec)
      s"""
      |WITH planes AS (
      |  SELECT b, list_transform(range(64), j ->
      |    CASE WHEN ('0x' || substring(md5('lsh:' || b::VARCHAR || ':' || j::VARCHAR), 1, 12))::BIGINT % 2 = 0
      |         THEN 1.0 ELSE -1.0 END) AS plane
      |  FROM (SELECT unnest(range(8)) AS b)
      |), bk AS (
      |  SELECT e.vec_id,
      |         sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.plane) >= 0
      |                  THEN (1::BIGINT << p.b) ELSE 0 END)::BIGINT AS lsh_bucket
      |  FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id
      |), qb AS (
      |  SELECT sum(CASE WHEN list_dot_product($qLit, plane) >= 0
      |                  THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS qbucket
      |  FROM planes
      |), cand AS (
      |  SELECT bk.vec_id, bk.lsh_bucket FROM bk, qb
      |  WHERE len(list_filter(range(8), i ->
      |        ((bk.lsh_bucket >> i) & 1) <> ((qb.qbucket >> i) & 1))) <= 1
      |), d AS (
      |  SELECT c.vec_id, c.lsh_bucket,
      |         ${duckCosine("e.embedding", qLit)} AS dist
      |  FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
      |), top AS (
      |  SELECT vec_id, lsh_bucket, dist FROM d ORDER BY dist, vec_id LIMIT 10
      |)
      |SELECT vec_id, lsh_bucket, round(dist, 6) AS distance
      |FROM top ORDER BY distance, vec_id
      """.stripMargin.trim
    })

  /** One cluster-partitioned IVF index write per (sfDir, JVM): the
    * write-time half of the index, memoized so Verify/Bench pay the
    * build once and the probed READ path is what the registered query
    * times.
    */
  private object IvfIndexStore {
    private val written = scala.collection.concurrent.TrieMap.empty[String, String]
    def ensure(s: org.apache.spark.sql.SparkSession, dir: String,
               cents: Array[Array[Float]]): String =
      written.getOrElseUpdate(dir, {
        val path = TmpStores.pidScopedPath("graft_ivf_idx", dir)
        Ann.writeIndexed(Tables.embeddings(s, dir), "embedding", cents, path)
        path
      })
  }

  /** One bucket-partitioned LSH index write per (sfDir, JVM) — the LSH
    * twin of [[IvfIndexStore]].
    */
  private object LshIndexStore {
    private val written = scala.collection.concurrent.TrieMap.empty[String, String]
    def ensure(s: org.apache.spark.sql.SparkSession, dir: String,
               planes: Array[Array[Float]]): String =
      written.getOrElseUpdate(dir, {
        val path = TmpStores.pidScopedPath("graft_lsh_idx", dir)
        Ann.writeLshIndexed(Tables.embeddings(s, dir), "embedding", planes, path)
        path
      })
  }

  private val lshRule = QueryDef(
    "ann_lsh_rule_rewrite",
    "Transparent KNN→LSH rewrite on the persisted bucket-partitioned " +
      "store: the query is the PLAIN exact-KNN API — no bucket filter " +
      "anywhere in user code — but the path is registered in " +
      "LshCatalog, so IvfProbeRule injects `lsh_bucket IN (hamming-≤1 " +
      "probe set of the query's bucket)` above the scan → static " +
      "partition pruning (9 of ≤256 bucket directories read). The " +
      "oracle is the probe-RESTRICTED SQL (same CTE family as " +
      "ann_lsh_probe): a green hash proves the rewrite fired.",
    (s, dir) => {
      val planes = Ann.signPlanes(dim = 64, nBits = 8)
      val path = LshIndexStore.ensure(s, dir, planes)
      graft.plans.LshCatalog.register(path, planes, radius = 1)
      Knn.search(Ann.readIndexed(s, path), "embedding", "vec_id", lshQueryVec, k = 10)
        .select(col("vec_id"), round(col("distance_score"), 6).as("distance"))
        .orderBy(col("distance"), col("vec_id"))
    },
    Some {
      val qLit = vecLit(lshQueryVec)
      s"""
      |WITH planes AS (
      |  SELECT b, list_transform(range(64), j ->
      |    CASE WHEN ('0x' || substring(md5('lsh:' || b::VARCHAR || ':' || j::VARCHAR), 1, 12))::BIGINT % 2 = 0
      |         THEN 1.0 ELSE -1.0 END) AS plane
      |  FROM (SELECT unnest(range(8)) AS b)
      |), bk AS (
      |  SELECT e.vec_id,
      |         sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.plane) >= 0
      |                  THEN (1::BIGINT << p.b) ELSE 0 END)::BIGINT AS lsh_bucket
      |  FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id
      |), qb AS (
      |  SELECT sum(CASE WHEN list_dot_product($qLit, plane) >= 0
      |                  THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS qbucket
      |  FROM planes
      |), cand AS (
      |  SELECT bk.vec_id FROM bk, qb
      |  WHERE len(list_filter(range(8), i ->
      |        ((bk.lsh_bucket >> i) & 1) <> ((qb.qbucket >> i) & 1))) <= 1
      |), d AS (
      |  SELECT c.vec_id, ${duckCosine("e.embedding", qLit)} AS dist
      |  FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
      |), top AS (
      |  SELECT vec_id, dist FROM d ORDER BY dist, vec_id LIMIT 10
      |)
      |SELECT vec_id, round(dist, 6) AS distance
      |FROM top ORDER BY distance, vec_id
      """.stripMargin.trim
    })

  /** One hybrid cluster_id/lsh_bucket-partitioned index write per
    * (sfDir, JVM), plus the per-partition row-count statistics the
    * cost-based rewrite reads: clusterRows/bucketRows marginalize one
    * bounded (≤ nlist·2^nBits rows collected) groupBy over the store.
    */
  private[queries] object HybridIndexStore {
    private val written =
      scala.collection.concurrent.TrieMap.empty[String, (String, Map[Int, Long], Map[Long, Long])]
    def ensure(s: org.apache.spark.sql.SparkSession, dir: String,
               cents: Array[Array[Float]],
               planes: Array[Array[Float]]): (String, Map[Int, Long], Map[Long, Long]) =
      written.getOrElseUpdate(dir, {
        val path = TmpStores.pidScopedPath("graft_hybrid_idx", dir)
        Ann.writeHybridIndexed(Tables.embeddings(s, dir), "embedding", cents,
          planes, path)
        val cells = s.read.parquet(path)
          .select(col("cluster_id").cast("int").as("c"),
            col("lsh_bucket").cast("long").as("b"))
          .groupBy(col("c"), col("b")).count()
          .collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        val clusterRows = cells.groupBy(_._1).map { case (c, g) => c -> g.map(_._3).sum }
        val bucketRows = cells.groupBy(_._2).map { case (b, g) => b -> g.map(_._3).sum }
        (path, clusterRows, bucketRows)
      })
  }

  /** The hybrid store's index metadata, recomputed from the parquet data
    * for every cost-served oracle: the 8 seeded centroids (cents), each
    * vector's nearest centroid (assigned), the 8 md5 sign planes
    * (planes) and each vector's bucket (bk). All MATERIALIZED: DuckDB
    * inlines a CTE at every reference, and the per-query cand branches
    * each carry a `(SELECT chosen FROM choice)` scalar — inlined, that
    * re-expands the per-query probe counts → assigned/bk into a
    * combinatorial plan that spilled >60 GB at sf1; materialized, the
    * whole oracle runs in under a second.
    */
  private def duckServingPrelude: String = s"""
    |WITH cents AS MATERIALIZED (
    |  SELECT vec_id AS cid, embedding::DOUBLE[] AS c FROM embeddings WHERE vec_id < 8
    |), assigned AS MATERIALIZED (
    |  SELECT vec_id, cid AS cluster_id FROM (
    |    SELECT e.vec_id, c.cid,
    |           row_number() OVER (PARTITION BY e.vec_id
    |                              ORDER BY ${duckL2("e.embedding::DOUBLE[]", "c.c")}, c.cid) AS rn
    |    FROM embeddings e CROSS JOIN cents c
    |  ) WHERE rn = 1
    |), planes AS MATERIALIZED (
    |  SELECT b, list_transform(range(64), j ->
    |    CASE WHEN ('0x' || substring(md5('lsh:' || b::VARCHAR || ':' || j::VARCHAR), 1, 12))::BIGINT % 2 = 0
    |         THEN 1.0 ELSE -1.0 END) AS plane
    |  FROM (SELECT unnest(range(8)) AS b)
    |), bk AS MATERIALIZED (
    |  SELECT e.vec_id,
    |         sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.plane) >= 0
    |                  THEN (1::BIGINT << p.b) ELSE 0 END)::BIGINT AS lsh_bucket
    |  FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id
    |)""".stripMargin.trim

  private val costRule = QueryDef(
    "ann_cost_rewrite",
    "Cost-based index selection inside the transparent rewrite: ONE " +
      "hybrid store (partitioned cluster_id=…/lsh_bucket=…) is " +
      "registered in BOTH IvfCatalog and LshCatalog, each with its " +
      "exact per-partition row counts, and the plain exact-KNN API is " +
      "run with no hint — IvfProbeRule estimates the rows each index " +
      "would scan for THIS query vector (Σ counts over the 3 nearest " +
      "lists vs Σ counts over the hamming-≤1 bucket probe set) and " +
      "injects the CHEAPER filter; at 100 TB 'transparent' means the " +
      "optimizer owns this choice. The chosen index rides the output " +
      "as a column, and the oracle replays the ENTIRE decision in " +
      "SQL — both assignments, both probe sets, both candidate counts, " +
      "the argmin, then exact cosine top-10 over the chosen candidate " +
      "set — so a green hash proves the cost model picked the same " +
      "index over the same rows (the spec flips the choice with " +
      "synthetic stats; this gate pins the data-derived one).",
    (s, dir) => {
      val q = QueryVectors.queryVec64
      val corpus = Tables.embeddings(s, dir)
      val cents = Ann.seededCentroids(corpus, "embedding", "vec_id", nlist = 8)
      val planes = Ann.signPlanes(dim = 64, nBits = 8)
      val (path, clusterRows, bucketRows) = HybridIndexStore.ensure(s, dir, cents, planes)
      graft.plans.IvfCatalog.register(path, cents, nprobe = 3, clusterRows)
      graft.plans.LshCatalog.register(path, planes, radius = 1, bucketRows)
      val (chosen, _, _) = graft.plans.IvfProbeRule.chooseIndex(q,
        graft.plans.IvfCatalog.IvfIndex(cents, 3, clusterRows),
        graft.plans.LshCatalog.LshIndex(planes, 1, bucketRows))
      Knn.search(Ann.readIndexed(s, path), "embedding", "vec_id", q, k = 10)
        .select(col("vec_id"), lit(chosen).as("chosen_index"),
          round(col("distance_score"), 6).as("distance"))
        .orderBy(col("distance"), col("vec_id"))
    },
    Some {
      val qLit = vecLit(QueryVectors.queryVec64)
      s"""
      |$duckServingPrelude, ivf_probes AS (
      |  SELECT cid FROM cents ORDER BY ${duckL2(qLit, "c")}, cid LIMIT 3
      |), qb AS (
      |  SELECT sum(CASE WHEN list_dot_product($qLit, plane) >= 0
      |                  THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS qbucket
      |  FROM planes
      |), ivf_cand AS (
      |  SELECT vec_id FROM assigned
      |  WHERE cluster_id IN (SELECT cid FROM ivf_probes)
      |), lsh_cand AS (
      |  SELECT bk.vec_id FROM bk, qb
      |  WHERE len(list_filter(range(8), i ->
      |        ((bk.lsh_bucket >> i) & 1) <> ((qb.qbucket >> i) & 1))) <= 1
      |), choice AS (
      |  SELECT CASE WHEN (SELECT count(*) FROM lsh_cand) <
      |                   (SELECT count(*) FROM ivf_cand)
      |              THEN 'lsh' ELSE 'ivf' END AS chosen
      |), cand AS (
      |  SELECT vec_id FROM lsh_cand WHERE (SELECT chosen FROM choice) = 'lsh'
      |  UNION ALL
      |  SELECT vec_id FROM ivf_cand WHERE (SELECT chosen FROM choice) = 'ivf'
      |), d AS (
      |  SELECT c.vec_id, ${duckCosine("e.embedding", qLit)} AS dist
      |  FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
      |), top AS (
      |  SELECT vec_id, dist FROM d ORDER BY dist, vec_id LIMIT 10
      |)
      |SELECT vec_id, (SELECT chosen FROM choice) AS chosen_index,
      |       round(dist, 6) AS distance
      |FROM top ORDER BY distance, vec_id
      """.stripMargin.trim
    })

  /** Sharded graph store per (fixture, JVM) at level cap `maxLevel`
    * (Malkov & Yashunin 2016; cap 0 is the flat NSW of Malkov et al.
    * 2014), memoized under `prefix`. The build is one `mapPartitions`
    * pass (independent per-shard graphs, ascending-id insertion —
    * deterministic), persisted partitioned by shard. The beam-searched
    * candidate id set is kept for the LATE oracle: graph traversal is
    * not SQL-recomputable, so the oracle re-ranks THIS run's candidate
    * list exactly (the same self-consistency contract as the
    * fitted-KMeans/PQ oracles).
    */
  private[queries] final class GraphStore(prefix: String, maxLevel: Int) {
    val params: Nsw.Params = Nsw.Params(nShards = 4, m = 8,
      efConstruction = 32, efSearch = 32, maxLevel = maxLevel)
    val candidates = scala.collection.concurrent.TrieMap.empty[String, Seq[Long]]
    @volatile var lastDir: Option[String] = None
    private val written = scala.collection.concurrent.TrieMap.empty[String, String]
    private val openedByDir = scala.collection.concurrent.TrieMap.empty[String, Nsw.OpenedGraph]
    def ensure(s: org.apache.spark.sql.SparkSession, dir: String): String = {
      lastDir = Some(dir)
      written.getOrElseUpdate(dir, {
        val p = TmpStores.pidScopedPath(prefix, dir)
        Nsw.writeGraph(Nsw.buildGraph(Tables.embeddings(s, dir),
          "embedding", "vec_id", params), p)
        p
      })
    }

    /** The store's shard exchange, opened once per (fixture, JVM): the
      * first search runs the exchange, every later one reads it. Opening
      * is lazy, so a racing second open costs nothing.
      */
    def opened(s: org.apache.spark.sql.SparkSession, dir: String): Nsw.OpenedGraph = {
      val path = ensure(s, dir)
      openedByDir.getOrElseUpdate(dir, {
        val graph = Nsw.readGraph(s, path)
        Nsw.openGraph(graph, params.nShards)
      })
    }
  }

  /** The flat store (cap 0): ann_nsw_beam, the routed batch and the
    * serving gates.
    */
  private[queries] val NswStore = new GraphStore("graft_nsw_idx", maxLevel = 0)

  /** The layered store (cap [[Nsw.HnswMaxLevel]]): same hash shards and
    * diverse-neighbor insertion, plus the log-layered entry-point
    * descent (deterministic md5 levels).
    */
  private[queries] val HnswStore = new GraphStore("graft_hnsw_idx", Nsw.HnswMaxLevel)

  /** Per-shard centroids of a [[GraphStore]] — the shard ROUTER's index
    * metadata: one bounded aggregate per (fixture, JVM), nShards rows
    * held on the driver exactly like IVF's centroid array. Exact
    * DECIMAL element sums make the centroids a pure function of each
    * shard's vector set (shuffle-order-independent), so routing is
    * reproducible across runs.
    */
  private[queries] final class GraphRouterStore(val store: GraphStore) {
    val nprobe = 2

    /** The routed graph's knobs as the serving cost model prices them. */
    def bound: graft.plans.IvfProbeRule.GraphBound =
      graft.plans.IvfProbeRule.GraphBound(store.params.nShards, nprobe, store.params.efSearch)
    private val cents = scala.collection.concurrent.TrieMap
      .empty[String, Array[(Int, Array[Double])]]
    def ensure(s: org.apache.spark.sql.SparkSession,
               dir: String): Array[(Int, Array[Double])] =
      cents.getOrElseUpdate(dir,
        Nsw.shardCentroids(Nsw.readGraph(s, store.ensure(s, dir))))
  }

  private[queries] val NswRouterStore = new GraphRouterStore(NswStore)
  private[queries] val HnswRouterStore = new GraphRouterStore(HnswStore)

  /** One query of a recorded-candidate re-rank oracle: its id and
    * vector, THIS run's recorded candidate ids, and optionally its
    * routed shard list (rides its rows as `routed_shards`).
    */
  private[queries] final case class RerankLeg(qid: Int, q: Array[Float], cands: Seq[Long],
                                              routed: Option[Seq[Int]] = None)

  /** The late oracle of every graph gate: the exact re-rank of THIS
    * run's recorded candidates, the SQL mirror of the opened-graph
    * search's in-task re-rank. Per leg, the embeddings rows among the
    * leg's candidates that pass `where`, with their cosine `dist` to the
    * leg's query (computed from the parquet data) and `knn_rank` by
    * (dist, vec_id). The top k of every leg, as (query_id, knn_rank,
    * vec_id, [routed_shards], `extra`…, dist), projected by `select`
    * and ordered by `orderBy`.
    */
  private[queries] def duckRecordedRerank(legs: Seq[RerankLeg], k: Int,
                                          select: String, orderBy: String,
                                          extra: Seq[String] = Nil,
                                          where: Option[String] = None): String = {
    val cols = extra.map(c => s"$c, ").mkString
    legs.map { l =>
      val routed = l.routed.fold("")(r => s"'${r.mkString(",")}' AS routed_shards, ")
      s"""|  SELECT ${l.qid} AS query_id, vec_id, $routed${cols}dist,
          |         row_number() OVER (ORDER BY dist, vec_id) AS knn_rank
          |  FROM (SELECT vec_id, $cols${duckCosine("embedding", vecLit(l.q))} AS dist
          |        FROM embeddings
          |        WHERE vec_id IN (${l.cands.mkString(", ")})${where.fold("")(w => s" AND $w")})""".stripMargin
    }.mkString(s"SELECT $select FROM (\n", "\nUNION ALL\n",
      s"\n) WHERE knn_rank <= $k ORDER BY $orderBy")
  }

  /** The batch gates' projection of [[duckRecordedRerank]] over the
    * knn_batch queries, with or without the routed shard column.
    */
  private[queries] def duckBatchRerank(cands: Map[Int, Seq[Long]], k: Int,
                                       routes: Option[Map[Int, Seq[Int]]] = None): String = {
    val qvecs = batchQueryVecs.toMap
    duckRecordedRerank(
      cands.toSeq.sortBy(_._1).map { case (qid, ids) =>
        RerankLeg(qid, qvecs(qid), ids, routes.map(_(qid)))
      }, k,
      "query_id, CAST(knn_rank AS BIGINT) AS knn_rank, vec_id, " +
        routes.fold("")(_ => "routed_shards, ") + "round(dist, 6) AS distance",
      "query_id, knn_rank")
  }

  /** The single-query gates' projection of [[duckRecordedRerank]]: the
    * flagship query's top 10 among `cands` as (vec_id,
    * [routed_shards], `extra`…, distance).
    */
  private def duckFlagshipRerank(cands: Seq[Long], routed: Option[Seq[Int]] = None,
                                 extra: Seq[String] = Nil,
                                 where: Option[String] = None): String = {
    val cols = (routed.map(_ => "routed_shards").toSeq ++ extra).map(c => s"$c, ").mkString
    duckRecordedRerank(Seq(RerankLeg(0, QueryVectors.queryVec64, cands, routed)), k = 10,
      s"vec_id, ${cols}round(dist, 6) AS distance", "distance, vec_id", extra, where)
  }

  /** The flagship query's full-fan search over `store`'s held exchange:
    * its top 10 ranked in the search task, and its candidates recorded
    * for the late oracle.
    */
  private def flagshipBeam(store: GraphStore)(s: org.apache.spark.sql.SparkSession,
                                              dir: String) = {
    val (res, cands) = Nsw.batchSearch(store.opened(s, dir), "vec_id",
      Seq(0 -> QueryVectors.queryVec64), k = 10, store.params)
    store.candidates(dir) = cands.getOrElse(0, Seq.empty)
    res.select(col("vec_id"), round(col("distance_score"), 6).as("distance"))
      .orderBy(col("distance"), col("vec_id"))
  }

  private val nswBeam = QueryDef(
    "ann_nsw_beam",
    "Graph-ANN (sharded Navigable-Small-World) beam search over the " +
      "persisted, shard-partitioned graph store: the store's shard " +
      "exchange is opened once per fixture and held, and ONE job runs " +
      "one beam per shard (each task walks O(ef·log n) nodes of its " +
      "LOCAL graph — no full scan) and scores its ≤ efSearch " +
      "candidates exactly in the same task, over the store's copy of " +
      "each vector; the driver keeps the top 10 of the ≤ " +
      "nShards·efSearch candidates (bounded, like IVF's probe list). " +
      "Build = ascending-id NSW insertion per shard (deterministic; id " +
      "tie-breaks in every heap). The oracle re-ranks this run's " +
      "candidate set in SQL — a green hash proves the store round trip " +
      "and the exact re-rank; NswSpec + RECALL.md cover graph quality " +
      "(recall vs exact).",
    flagshipBeam(NswStore),
    oracle = None,
    oracleLate = Some(() =>
      NswStore.lastDir.flatMap(NswStore.candidates.get).map(duckFlagshipRerank(_))))

  private val hnswBeam = QueryDef(
    "ann_hnsw_beam",
    "HNSW search over the persisted shard-partitioned LAYERED graph " +
      "store (Malkov & Yashunin 2016: ann_nsw_beam's build at level " +
      "cap 8 instead of 0): " +
      "each node draws level l with P(level ≥ l) = m^(-l) from the " +
      "portable md5 hash of its id — a pure function of the id, so " +
      "levels survive appends and rebuilds identically — and carries " +
      "one diverse-neighbor adjacency per layer (m edges above, 2m at " +
      "layer 0). Search descends greedily (ef=1) from the shard's " +
      "top-level entry point through the upper layers, then runs the " +
      "efSearch beam at layer 0 — the log-layered entry replaces the " +
      "cap-0 store's smallest-id entry, which at large shard sizes is " +
      "an arbitrary corner the beam must walk in from. Same one-job " +
      "search over the held shard exchange as ann_nsw_beam, with the " +
      "exact top-10 re-rank of the ≤ nShards·efSearch candidates in " +
      "the beam tasks (and the same late oracle: re-rank THIS run's " +
      "recorded candidate set); NswSpec locks the layer invariants, " +
      "RECALL.md the ef sweep vs flat NSW.",
    flagshipBeam(HnswStore),
    oracle = None,
    oracleLate = Some(() =>
      HnswStore.lastDir.flatMap(HnswStore.candidates.get).map(duckFlagshipRerank(_))))

  private object HnswRoutedState {
    val candidates = scala.collection.concurrent.TrieMap.empty[String, Seq[Long]]
    val routed = scala.collection.concurrent.TrieMap.empty[String, Seq[Int]]
    @volatile var lastDir: Option[String] = None
  }

  private val hnswRouted = QueryDef(
    "ann_hnsw_routed",
    "Shard-ROUTED HNSW search — the scale fix for the sharded graph " +
      "family's one remaining gap: full-fan search launches one beam " +
      "per shard and nShards grows with the corpus, so per-query cost " +
      "is linear in corpus size where monolithic HNSW is logarithmic. " +
      "Each shard keeps one centroid (a bounded build-time aggregate, " +
      "the IvfCatalog-stats pattern; exact DECIMAL sums so the " +
      "centroid is shuffle-order-independent), the query routes to its " +
      "nprobe=2 cosine-nearest shards driver-side (O(nShards·dim), the " +
      "graph twin of Ann.probeIds), and ONLY those shards beam — the " +
      "search job over the store's held shard exchange reads only the " +
      "exchange partitions of the routed shards, so it runs at most " +
      "nprobe tasks (PlanShapeSpec pins it). Per-query cost is then " +
      "O(nprobe·ef·log shardSize) — constant in corpus size, exactly " +
      "how IVF keeps probe cost flat as nlist grows. Exact cosine " +
      "top-10 re-rank of the ≤ nprobe·efSearch candidates in the beam " +
      "tasks; the late oracle re-ranks THIS run's recorded candidate " +
      "set (identical contract to ann_hnsw_beam), with the routed " +
      "shard list riding the output. NswSpec asserts routed candidates " +
      "≡ the full fan's restricted to the routed shards; RECALL.md " +
      "measures the recall/fan-out trade per nprobe.",
    (s, dir) => {
      val (res, cands, routes) = Nsw.routedBatchSearch(HnswStore.opened(s, dir),
        "vec_id", Seq(0 -> QueryVectors.queryVec64), k = 10,
        HnswRouterStore.ensure(s, dir), HnswRouterStore.nprobe, HnswStore.params)
      val routed = routes(0)
      HnswRoutedState.candidates(dir) = cands.getOrElse(0, Seq.empty)
      HnswRoutedState.routed(dir) = routed
      HnswRoutedState.lastDir = Some(dir)
      res.select(col("vec_id"), lit(routed.mkString(",")).as("routed_shards"),
          round(col("distance_score"), 6).as("distance"))
        .orderBy(col("distance"), col("vec_id"))
    },
    oracle = None,
    oracleLate = Some(() =>
      HnswRoutedState.lastDir.flatMap { d =>
        for {
          cands <- HnswRoutedState.candidates.get(d)
          routed <- HnswRoutedState.routed.get(d)
        } yield duckFlagshipRerank(cands, routed = Some(routed))
      }))

  private val filteredHnsw = QueryDef(
    "knn_filtered_hnsw",
    "Hybrid predicate + graph-ANN — the retrieval composition the IVF " +
      "family already gates (knn_filtered_ivf_rewrite) applied to the " +
      "graph index: the HNSW beams run unchanged over the store's held " +
      "shard exchange (the graph is predicate-agnostic; filtering " +
      "nodes DURING traversal would disconnect it), and since the " +
      "predicate lives in the corpus, not in the graph store, the " +
      "search's candidates are re-ranked in SQL, where the relational " +
      "predicate composes with the candidate IN-filter on ONE corpus " +
      "scan (both reach the parquet scan as PushedFilters under a " +
      "TakeOrderedAndProject — PlanShapeSpec asserts it). The beam " +
      "oversamples for the filter by construction: efSearch candidates " +
      "per shard are re-ranked but only predicate-survivors can place, " +
      "so a deployment raises efSearch ∝ 1/selectivity (documented; at " +
      "~30% selectivity here, 4·32 candidates comfortably cover " +
      "top-10). Late oracle: the same predicate + exact re-rank over " +
      "THIS run's recorded candidate set.",
    (s, dir) => {
      val (_, byQ) = Nsw.batchSearch(HnswStore.opened(s, dir), "vec_id",
        Seq(0 -> QueryVectors.queryVec64), k = 10, HnswStore.params)
      val cands = byQ.getOrElse(0, Seq.empty)
      FilteredHnswState.candidates(dir) = cands
      FilteredHnswState.lastDir = Some(dir)
      Knn.search(Tables.embeddings(s, dir).filter(col("label").isin(2, 5, 8))
          .filter(col("vec_id").isin(cands: _*)),
          "embedding", "vec_id", QueryVectors.queryVec64, k = 10)
        .select(col("vec_id"), col("label"),
          round(col("distance_score"), 6).as("distance"))
        .orderBy(col("distance"), col("vec_id"))
    },
    oracle = None,
    oracleLate = Some(() =>
      FilteredHnswState.lastDir.flatMap(FilteredHnswState.candidates.get).map { cands =>
        duckFlagshipRerank(cands, extra = Seq("label"), where = Some("label IN (2, 5, 8)"))
      }))

  private object FilteredHnswState {
    val candidates = scala.collection.concurrent.TrieMap.empty[String, Seq[Long]]
    @volatile var lastDir: Option[String] = None
  }

  /** One leg of a cost-served gate's oracle: its queries, THIS run's
    * recorded candidate ids per query (read when the leg chose hnsw or
    * pq), and for a filtered leg its (match-count SQL, row predicate SQL
    * over the embeddings alias `e`).
    */
  private[queries] final case class OracleLeg(tag: String, qs: Seq[(Int, Array[Float])],
                                              recorded: Map[Int, Seq[Long]],
                                              filter: Option[(String, String)] = None)

  /** [[graft.plans.IvfProbeRule.FamilyCosts]]'s argmin as a SQL CASE
    * over the cost columns `cost(family)`.
    */
  private def duckArgmin(cost: String => String, pq: Boolean): String = {
    val Seq(ivf, lsh, hnsw, pqc) = Seq("ivf", "lsh", "hnsw", "pq").map(cost)
    val pqArm =
      if (pq) s"WHEN $pqc < $ivf AND $pqc < $lsh AND $pqc < $hnsw THEN 'pq'\n              " else ""
    s"""|CASE ${pqArm}WHEN $hnsw < $ivf AND $hnsw < $lsh THEN 'hnsw'
        |              WHEN $lsh < $ivf THEN 'lsh'
        |              ELSE 'ivf' END""".stripMargin
  }

  /** THE late oracle of the cost-served gates: it replays the serving
    * cost model from the parquet data alone, leg by leg, then re-ranks
    * the executed family's candidates exactly. It never reads the Scala
    * model's numbers, only its knobs: it is the reference the model is
    * checked against. After the shared [[duckServingPrelude]], each leg
    * emits
    *   - `qb_<leg>_<q>`: each query's sign bucket;
    *   - `m_<leg>` (filtered legs): the exact (n_match, n_total) pair;
    *   - `est_<leg>`: ef_eff and sl_eff — least(n_total, ⌈knob·n_total /
    *     n_match⌉) when filtered, the knobs as given otherwise — then
    *     est_ivf_b (Σ per-query rows in the 3 nearest lists), est_lsh_b
    *     (Σ per-query rows within hamming `lshRadius`), est_hnsw_b
    *     (B·min(nShards, nprobe)·ef_eff), each × `bytesPerRow`, and with
    *     `pq` = (m, shortlist) est_pq_b = count(*)·m + B·sl_eff × bytesPerRow;
    *   - `choice_<leg>`: the model's argmin (chosen_index);
    *   - with `weights`, `cost_<leg>` (cost_*_ns = ⌈bytes/1024⌉·ns/KiB)
    *     and `cchoice_<leg>` (its argmin, cal_chosen), which then picks
    *     the executed family instead of chosen_index;
    *   - `cand_<leg>_<q>`: the executed family's candidates — probe-set
    *     membership for ivf/lsh, the recorded ids for hnsw/pq;
    *   - `top_<leg>_<q>`: exact cosine top-k under the leg's predicate.
    * A leg's rows carry leg, batch_size, query_id, knn_rank, vec_id,
    * label, distance, chosen_index and every est_/cost_ column (plus
    * cal_chosen); each gate keeps its own output through `projection`
    * and `orderBy`. `bytesPerRow` is the vectors' dim·4, or 1 to price
    * in rows (no PQ family then). est, choice, cost and cchoice are
    * MATERIALIZED for the reason the prelude gives.
    */
  private[queries] def duckServingOracle(
      legs: Seq[OracleLeg], k: Int, lshRadius: Int,
      graph: graft.plans.IvfProbeRule.GraphBound, pq: Option[(Int, Int)],
      weights: Option[graft.plans.IvfProbeRule.ServingWeights], bytesPerRow: Long,
      projection: String, orderBy: String): String = {
    val routed = math.min(graph.nShards, graph.nprobe)
    def ivfProbes(v: Array[Float]) =
      s"(SELECT cid FROM cents ORDER BY ${duckL2(vecLit(v), "c")}, cid LIMIT 3)"
    def inLshProbes(q: String) =
      s"""|len(list_filter(range(8), i ->
          |      ((bk.lsh_bucket >> i) & 1) <> (($q.qbucket >> i) & 1))) <= $lshRadius""".stripMargin
    val built = legs.map { case OracleLeg(t, qs, recorded, filter) =>
      val b = qs.length
      def widened(knob: Int) =
        if (filter.isDefined) s"least(n_total, ($knob * n_total + n_match - 1) // n_match)"
        else s"$knob::BIGINT"
      val (ef, sl) = (widened(graph.efSearch), pq.fold("0::BIGINT")(p => widened(p._2)))
      val qbs = qs.map { case (qid, v) =>
        s"""|qb_${t}_$qid AS (
            |  SELECT sum(CASE WHEN list_dot_product(${vecLit(v)}, plane) >= 0
            |                  THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS qbucket
            |  FROM planes
            |)""".stripMargin
      }
      val ivfCnt = qs.map { case (_, v) =>
        s"(SELECT count(*) FROM assigned WHERE cluster_id IN\n      ${ivfProbes(v)})"
      }.mkString(" + ")
      val lshCnt = qs.map { case (qid, _) =>
        s"(SELECT count(*) FROM bk, qb_${t}_$qid q\n      WHERE ${inLshProbes("q")})"
      }.mkString(" + ")
      val sel = filter.map { case (matchSql, _) =>
        s"""|m_$t AS MATERIALIZED (
            |  SELECT ($matchSql)::BIGINT AS n_match,
            |         (SELECT count(*) FROM embeddings)::BIGINT AS n_total
            |)""".stripMargin
      }
      val pqEst = pq.fold("") { case (m, _) =>
        s",\n         (SELECT count(*) FROM embeddings)::BIGINT * $m + ${b}::BIGINT * $sl * $bytesPerRow AS est_pq_b"
      }
      val est =
        s"""|est_$t AS MATERIALIZED (
            |  SELECT ${if (filter.isDefined) "n_match, n_total, " else ""}$ef AS ef_eff, $sl AS sl_eff,
            |         ($ivfCnt)::BIGINT * $bytesPerRow AS est_ivf_b,
            |         ($lshCnt)::BIGINT * $bytesPerRow AS est_lsh_b,
            |         ${b}::BIGINT * $routed * $ef * $bytesPerRow AS est_hnsw_b$pqEst
            |  ${if (filter.isDefined) s"FROM m_$t" else ""}
            |), choice_$t AS MATERIALIZED (
            |  SELECT ${duckArgmin(f => s"est_${f}_b", pq.isDefined)} AS chosen
            |  FROM est_$t
            |)""".stripMargin
      val calibrated = weights.map { w =>
        val perKib = Map("ivf" -> w.ivfNsPerKib, "lsh" -> w.lshNsPerKib,
          "hnsw" -> w.hnswNsPerKib, "pq" -> w.pqNsPerKib)
        val costs = Seq("ivf", "lsh", "hnsw", "pq").filter(f => f != "pq" || pq.isDefined)
          .map(f => s"((est_${f}_b + 1023) // 1024) * ${perKib(f)} AS cost_${f}_ns")
        s"""|cost_$t AS MATERIALIZED (
            |  SELECT ${costs.mkString(",\n         ")}
            |  FROM est_$t
            |), cchoice_$t AS MATERIALIZED (
            |  SELECT ${duckArgmin(f => s"cost_${f}_ns", pq.isDefined)} AS cal_chosen
            |  FROM cost_$t
            |)""".stripMargin
      }
      val executed =
        if (weights.isDefined) s"(SELECT cal_chosen FROM cchoice_$t)"
        else s"(SELECT chosen FROM choice_$t)"
      val tops = qs.map { case (qid, v) =>
        val rec = recorded.getOrElse(qid, Seq.empty)
        val recList = if (rec.isEmpty) "[]::BIGINT[]" else rec.mkString("[", ", ", "]")
        s"""|cand_${t}_$qid AS (
            |  SELECT vec_id FROM assigned
            |  WHERE $executed = 'ivf'
            |    AND cluster_id IN ${ivfProbes(v)}
            |  UNION ALL
            |  SELECT bk.vec_id FROM bk, qb_${t}_$qid q
            |  WHERE $executed = 'lsh'
            |    AND ${inLshProbes("q")}
            |  UNION ALL
            |  SELECT unnest($recList) AS vec_id
            |  WHERE $executed IN ('hnsw', 'pq')
            |), top_${t}_$qid AS (
            |  SELECT $qid AS query_id, vec_id, label, dist,
            |         row_number() OVER (ORDER BY dist, vec_id) AS knn_rank
            |  FROM (
            |    SELECT c.vec_id, e.label, ${duckCosine("e.embedding", vecLit(v))} AS dist
            |    FROM cand_${t}_$qid c JOIN embeddings e ON c.vec_id = e.vec_id
            |    WHERE ${filter.fold("TRUE")(_._2)}
            |  ) QUALIFY knn_rank <= $k
            |)""".stripMargin
      }
      val rows = qs.map { case (qid, _) =>
        s"""|SELECT '$t' AS leg, ${b}::BIGINT AS batch_size, t.query_id,
            |       CAST(t.knn_rank AS BIGINT) AS knn_rank, t.vec_id, t.label,
            |       round(t.dist, 6) AS distance, ch.chosen AS chosen_index, e.*${
                      if (weights.isDefined) ", cc.cal_chosen, c.*" else ""}
            |FROM top_${t}_$qid t CROSS JOIN est_$t e CROSS JOIN choice_$t ch${
                      if (weights.isDefined) s" CROSS JOIN cost_$t c CROSS JOIN cchoice_$t cc" else ""}""".stripMargin
      }
      (qbs ++ sel ++ Seq(est) ++ calibrated ++ tops, rows)
    }
    s"""|$duckServingPrelude,
        |${built.flatMap(_._1).mkString(",\n")}
        |SELECT $projection FROM (
        |${built.flatMap(_._2).mkString("\nUNION ALL\n")}
        |) ORDER BY $orderBy""".stripMargin
  }

  /** Execute one query on `family` over the cost-served gates' stores,
    * exact top-k under `pred`: the probe-pruned hybrid scan for ivf/lsh;
    * the routed beam over `router`'s graph at beam width `ef`
    * (re-ranked in the search task when unfiltered); the `shortlist`
    * ADC shortlist for pq. Returns the ranked frame (vec_id,
    * distance_score) and THIS run's recorded candidate ids (sorted;
    * empty for ivf/lsh) for the late oracle.
    */
  private def serveOne(s: org.apache.spark.sql.SparkSession, dir: String,
                       family: String, q: Array[Float], k: Int, path: String,
                       ivf: graft.plans.IvfCatalog.IvfIndex,
                       lsh: graft.plans.LshCatalog.LshIndex,
                       router: GraphRouterStore, ef: Long, shortlist: Long,
                       pred: Option[org.apache.spark.sql.Column] = None)
      : (org.apache.spark.sql.DataFrame, Seq[Long]) = {
    val corpus = Tables.embeddings(s, dir)
    def ranked(df: org.apache.spark.sql.DataFrame) =
      Knn.search(pred.fold(df)(df.filter), "embedding", "vec_id", q, k)
    family match {
      case "pq" =>
        val cb = PqStore.ensure(s, dir)
        val codes = Pq.readEncoded(s, PqCodeStore.ensure(s, dir))
        val sl = Pq.search(codes, "vec_id", q, cb, k = shortlist.toInt)
          .select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
        (ranked(corpus.filter(col("vec_id").isin(sl: _*))), sl)
      case "hnsw" =>
        val p = router.store.params.copy(efSearch = ef.toInt)
        val (res, cands, _) = Nsw.routedBatchSearch(router.store.opened(s, dir),
          "vec_id", Seq(0 -> q), k, router.ensure(s, dir), router.nprobe, p)
        val ids = cands.getOrElse(0, Seq.empty).sorted
        (if (pred.isEmpty) res else ranked(corpus.filter(col("vec_id").isin(ids: _*))), ids)
      case probe =>
        (ranked(graft.streaming.VectorServing.probeScan(
          Ann.readIndexed(s, path), probe, q, ivf, lsh)), Seq.empty)
    }
  }

  /** The probe indexes every cost-served gate prices: the memoized
    * hybrid store (its path), its 8 seeded centroids probed 3 deep and
    * its 8 sign planes probed within hamming `lshRadius`, each with the
    * store's exact per-partition row counts.
    */
  private def servingIndexes(s: org.apache.spark.sql.SparkSession, dir: String,
                             lshRadius: Int)
      : (String, graft.plans.IvfCatalog.IvfIndex, graft.plans.LshCatalog.LshIndex) = {
    val cents = Ann.seededCentroids(Tables.embeddings(s, dir), "embedding", "vec_id", nlist = 8)
    val planes = Ann.signPlanes(dim = 64, nBits = 8)
    val (path, clusterRows, bucketRows) = HybridIndexStore.ensure(s, dir, cents, planes)
    (path, graft.plans.IvfCatalog.IvfIndex(cents, 3, clusterRows),
      graft.plans.LshCatalog.LshIndex(planes, lshRadius, bucketRows))
  }

  /** The gates' PQ family: every stored row's m = 8 codes, and a
    * 16-id shortlist per query.
    */
  private def gatePq(ivf: graft.plans.IvfCatalog.IvfIndex) =
    Some(graft.plans.IvfProbeRule.PqFamily(ivf.clusterRows.values.sum, PqStore.M, 16))

  private object CostServingState {
    val hnswCands = scala.collection.concurrent.TrieMap.empty[String, Seq[Long]]
    @volatile var lastDir: Option[String] = None
  }

  private val costServing = QueryDef(
    "ann_cost_serving",
    "THREE-way cost-based index selection — the serving-layer router " +
      "that completes ann_cost_rewrite's IVF-vs-LSH optimizer choice " +
      "with the graph family: IvfProbeRule.priceServing (no PQ family) " +
      "estimates the rows each index sends to the exact re-rank for " +
      "THIS query — " +
      "Σ cluster rows over the 3 nearest lists, Σ bucket rows over the " +
      "hamming-≤1 probe set, and the routed-HNSW CLOSED FORM " +
      "min(nShards,nprobe)·efSearch (constant in corpus size — the " +
      "whole point of the router) — and dispatches to the cheapest: " +
      "probe filters for IVF/LSH, the routed beam over the opened graph " +
      "exchange for HNSW (the graph path never gets a Catalyst " +
      "rewrite, the documented " +
      "no-rewrite rationale, so this choice lives ABOVE the optimizer). " +
      "All three estimates ride the output and the oracle replays the " +
      "ENTIRE decision in SQL — both assignments, both probe sets, " +
      "both candidate counts, the literal HNSW bound, the argmin, then " +
      "exact cosine top-10 over the chosen candidate set (the HNSW " +
      "branch re-ranks THIS run's recorded beam candidates). The " +
      "decision is data-derived and flips across the decade gate: tiny " +
      "fixtures pick a probe index, larger ones the corpus-size-" +
      "independent graph path. IvfProbeRuleSpec flips all three " +
      "choices with synthetic stats.",
    (s, dir) => {
      val q = QueryVectors.queryVec64
      val (path, ivf, lsh) = servingIndexes(s, dir, lshRadius = 1)
      val price = graft.plans.IvfProbeRule.priceServing(Seq(q), ivf, lsh,
        HnswRouterStore.bound)
      CostServingState.lastDir = Some(dir)
      val (ranked, cands) = serveOne(s, dir, price.chosen, q, k = 10, path,
        ivf, lsh, HnswRouterStore, price.efEff, price.slEff)
      CostServingState.hnswCands(dir) = cands
      ranked.select(col("vec_id"), lit(price.chosen).as("chosen_index"),
          lit(price.rows(price.bytes.ivf)).as("est_ivf"),
          lit(price.rows(price.bytes.lsh)).as("est_lsh"),
          lit(price.rows(price.bytes.hnsw)).as("est_hnsw"),
          round(col("distance_score"), 6).as("distance"))
        .orderBy(col("distance"), col("vec_id"))
    },
    oracle = None,
    oracleLate = Some(() =>
      CostServingState.lastDir.map { d =>
        duckServingOracle(
          Seq(OracleLeg("q", Seq(0 -> QueryVectors.queryVec64),
            Map(0 -> CostServingState.hnswCands.getOrElse(d, Seq.empty)))),
          k = 10, lshRadius = 1, HnswRouterStore.bound, pq = None,
          weights = None, bytesPerRow = 1,
          "vec_id, chosen_index, est_ivf_b AS est_ivf, est_lsh_b AS est_lsh, " +
            "est_hnsw_b AS est_hnsw, distance",
          "distance, vec_id")
      }))

  private object RoutedBatchState {
    val cands = scala.collection.concurrent.TrieMap.empty[String, Map[Int, Seq[Long]]]
    val routes = scala.collection.concurrent.TrieMap.empty[String, Map[Int, Seq[Int]]]
    @volatile var lastDir: Option[String] = None
  }

  private val nswRoutedBatch = QueryDef(
    "ann_nsw_routed_batch",
    "Shard-ROUTED batch graph-ANN — the router applied to the BATCH " +
      "serving shape (r17's one residual scale note: the single-query " +
      "router existed but batch serving still beamed every shard per " +
      "query): all five knn_batch query vectors route driver-side to " +
      "their 2 centroid-nearest shards (shard centroids = one bounded " +
      "exact-DECIMAL aggregate per store, the IVF-centroid metadata " +
      "contract), the search job over the store's opened shard " +
      "exchange prunes to the partitions of the batch's routed-shard " +
      "UNION, and within a shard's task only the queries routed THERE " +
      "beam — per-query cost is the router's constant-in-corpus bound, " +
      "batch-wide, in ONE job. Exact per-query top-3 re-rank of each " +
      "candidate in the same task, over the store's copy of its " +
      "vector; each query's routed shard list rides the output, and " +
      "the late oracle re-ranks THIS run's per-query recorded " +
      "candidate sets. " +
      "NswSpec asserts routed-batch candidates ≡ the full batch fan's " +
      "restricted to each query's routed shards.",
    (s, dir) => {
      val (res, cands, routes) = Nsw.routedBatchSearch(NswStore.opened(s, dir),
        "vec_id", batchQueryVecs, k = 3, NswRouterStore.ensure(s, dir),
        NswRouterStore.nprobe, NswStore.params)
      RoutedBatchState.cands(dir) = cands
      RoutedBatchState.routes(dir) = routes
      RoutedBatchState.lastDir = Some(dir)
      import s.implicits._
      val routesDf = routes.toSeq
        .map { case (q, shs) => (q, shs.mkString(",")) }
        .toDF("query_id", "routed_shards")
      res.join(broadcast(routesDf), "query_id")
        .select(col("query_id"), col("knn_rank").cast("long").as("knn_rank"),
          col("vec_id"), col("routed_shards"),
          round(col("distance_score"), 6).as("distance"))
        .orderBy(col("query_id"), col("knn_rank"))
    },
    oracle = None,
    oracleLate = Some(() =>
      RoutedBatchState.lastDir.flatMap { d =>
        for {
          cands <- RoutedBatchState.cands.get(d)
          routes <- RoutedBatchState.routes.get(d)
        } yield duckBatchRerank(cands, k = 3, Some(routes))
      }))

  private object CostServing4State {
    val recorded = scala.collection.concurrent.TrieMap.empty[String, Seq[Long]]
    @volatile var lastDir: Option[String] = None
  }

  private val costServing4 = QueryDef(
    "ann_cost_serving4",
    "FOUR-way cost-based serving choice — ann_cost_serving's router " +
      "extended with the PQ/ADC path (r17 verdict #1a). Rows are not " +
      "comparable across all four families (PQ scans EVERY row but at " +
      "m=8 code bytes, not dim·4=256 vector bytes), so the cost unit " +
      "becomes BYTES READ: probed rows ×256 for IVF (3 nearest lists) " +
      "and LSH (hamming-≤2 probe set — the wider radius is the poor-" +
      "selectivity regime where PQ earns its keep), the routed-HNSW " +
      "closed form min(nShards,nprobe)·efSearch ×256, and N·8 + " +
      "shortlist·256 for PQ (corpus-linear at a 32× byte discount — " +
      "exactly the ann_pq_store_adc measurement, as a cost model). N " +
      "comes free as Σ clusterRows (store stats, no extra scan). All " +
      "four estimates ride the output; the oracle replays the ENTIRE " +
      "decision in SQL — both probe sets, all four byte formulas " +
      "(PQ's recomputes N via count(*)), the strict-dominance argmin " +
      "with IVF-precedence ties — then exact cosine top-10 over the " +
      "chosen candidate set (the HNSW/PQ branches re-rank THIS run's " +
      "recorded candidate/shortlist ids). The choice is data-derived " +
      "and flips across the decade gate; IvfProbeRuleSpec flips all " +
      "FOUR ways with synthetic stats.",
    (s, dir) => {
      val q = QueryVectors.queryVec64
      val (path, ivf, lsh) = servingIndexes(s, dir, lshRadius = 2)
      val price = graft.plans.IvfProbeRule.priceServing(Seq(q), ivf, lsh,
        HnswRouterStore.bound, gatePq(ivf))
      CostServing4State.lastDir = Some(dir)
      val (ranked, recorded) = serveOne(s, dir, price.chosen, q, k = 10, path,
        ivf, lsh, HnswRouterStore, price.efEff, price.slEff)
      CostServing4State.recorded(dir) = recorded
      ranked.select(Seq(col("vec_id"), lit(price.chosen).as("chosen_index")) ++
          graft.streaming.VectorServing.byteColumns(price) ++
          Seq(round(col("distance_score"), 6).as("distance")): _*)
        .orderBy(col("distance"), col("vec_id"))
    },
    oracle = None,
    oracleLate = Some(() =>
      CostServing4State.lastDir.map { d =>
        duckServingOracle(
          Seq(OracleLeg("q", Seq(0 -> QueryVectors.queryVec64),
            Map(0 -> CostServing4State.recorded.getOrElse(d, Seq.empty)))),
          k = 10, lshRadius = 2, HnswRouterStore.bound, Some(PqStore.M -> 16),
          weights = None, bytesPerRow = 256,
          "vec_id, chosen_index, est_ivf_b, est_lsh_b, est_hnsw_b, est_pq_b, distance",
          "distance, vec_id")
      }))

  private object CostServingBatchState {
    val cands = scala.collection.concurrent.TrieMap
      .empty[String, Map[String, Map[Int, Seq[Long]]]]
    @volatile var lastDir: Option[String] = None
  }

  /** The late oracle of [[graft.streaming.VectorServing.dispatchServingBatch]]
    * over the gate stores: the four-way byte model per query batch (one
    * leg per batch, with THIS run's recorded ids), then per-query exact
    * top-3 over each decision's candidates — shared by
    * ann_cost_serving_batch and stream_serve_auto, so streamed ≡
    * priced-batch is structural.
    */
  private[queries] def duckDispatchOracle(
      legs: Seq[(String, Seq[(Int, Array[Float])])],
      cands: Map[String, Map[Int, Seq[Long]]]): String =
    duckServingOracle(
      legs.map { case (tag, qs) => OracleLeg(tag, qs, cands.getOrElse(tag, Map.empty)) },
      k = 3, lshRadius = 2, NswRouterStore.bound, Some(PqStore.M -> 16),
      weights = None, bytesPerRow = 256,
      "batch_size, query_id, knn_rank, vec_id, chosen_index, " +
        "est_ivf_b, est_lsh_b, est_hnsw_b, est_pq_b, distance",
      "batch_size, query_id, knn_rank")

  private val costServingBatch = QueryDef(
    "ann_cost_serving_batch",
    "BATCH-aware serving cost choice (r18 verdict #1) — " +
      "the four-way byte model (IvfProbeRule.priceServing) priced for " +
      "a WHOLE query batch, because the economics invert with batch " +
      "size: PQ's " +
      "corpus scan is ONE shared ADC pass however many queries ride " +
      "it (amortized N·m bytes + B shortlist rescores), while the " +
      "probe paths and the routed-graph bound pay per query (B× " +
      "their single-query bytes). The gate prices and EXECUTES two " +
      "legs over the same store — the 1-query batch and the 5-query " +
      "knn_batch — through VectorServing.dispatchServingBatch (the " +
      "same dispatch stream_serve_auto rides; single-builder rule), " +
      "with all four per-leg byte totals and the per-leg decision on " +
      "every output row. At sf0.1+ the decision FLIPS on batch size " +
      "alone (hnsw for the single query, pq for the batch — same " +
      "corpus, same stats); at the sf0.001/0.01 fixtures the corpus " +
      "is small enough that one 8-byte-per-row scan undercuts even " +
      "one routed beam, so both legs honestly choose pq — the oracle " +
      "replays the decision either way, per leg: both probe sets in " +
      "SQL, the closed-form hnsw bound, the amortized pq formula " +
      "(count(*) recomputes N), the strict-dominance argmin with " +
      "ivf-precedence ties, then per-query exact top-3 over the " +
      "chosen candidates (probe membership in SQL for ivf/lsh; THIS " +
      "run's recorded shortlist/beam ids for pq/hnsw). " +
      "IvfProbeRuleSpec pins the synthetic flip both ways.",
    (s, dir) => {
      import graft.streaming.VectorServing
      val corpus = Tables.embeddings(s, dir)
      val (path, ivf, lsh) = servingIndexes(s, dir, lshRadius = 2)
      val idx = VectorServing.AutoServingIndexes(ivf, lsh,
        Ann.readIndexed(s, path),
        Nsw.readGraph(s, NswStore.ensure(s, dir)), corpus,
        NswRouterStore.ensure(s, dir), NswRouterStore.nprobe,
        NswStore.params,
        Pq.readEncoded(s, PqCodeStore.ensure(s, dir)), PqStore.ensure(s, dir),
        dim = 64, corpusRows = ivf.clusterRows.values.sum,
        pqM = PqStore.M, pqShortlist = 16)
      val legs = Seq("small" -> batchQueryVecs.take(1),
        "large" -> batchQueryVecs)
      val outs = legs.map { case (tag, qs) =>
        val (res, chosen, price, recorded) =
          VectorServing.dispatchServingBatch(qs, idx, "embedding", "vec_id", k = 3)
        CostServingBatchState.cands(dir) =
          CostServingBatchState.cands.getOrElse(dir, Map.empty) + (tag -> recorded)
        res.select(Seq(lit(qs.length.toLong).as("batch_size"), col("query_id"),
          col("knn_rank").cast("long").as("knn_rank"), col("vec_id"),
          lit(chosen).as("chosen_index")) ++ VectorServing.byteColumns(price) ++
          Seq(round(col("distance_score"), 6).as("distance")): _*)
      }
      CostServingBatchState.lastDir = Some(dir)
      outs.reduce(_ unionByName _)
        .orderBy(col("batch_size"), col("query_id"), col("knn_rank"))
    },
    oracle = None,
    oracleLate = Some(() =>
      CostServingBatchState.lastDir.map { d =>
        duckDispatchOracle(
          Seq("small" -> batchQueryVecs.take(1), "large" -> batchQueryVecs),
          CostServingBatchState.cands.getOrElse(d, Map.empty))
      }))

  private object CostServingFilteredState {
    val cands = scala.collection.concurrent.TrieMap
      .empty[String, Map[String, Seq[Long]]]
    @volatile var lastDir: Option[String] = None
  }

  /** The selectivity channel of the filtered gates' priced legs: the
    * decision record columns (n_match, n_total, ef_eff, sl_eff, then
    * the four byte totals).
    */
  private def selectivityColumns(price: graft.plans.IvfProbeRule.ServingPrice,
                                 nMatch: Long, nTotal: Long) =
    Seq(lit(nMatch).as("n_match"), lit(nTotal).as("n_total"),
      lit(price.efEff).as("ef_eff"), lit(price.slEff).as("sl_eff")) ++
      graft.streaming.VectorServing.byteColumns(price)

  private val costServingFiltered = QueryDef(
    "ann_cost_serving_filtered",
    "SELECTIVITY-aware serving cost choice — the router priced for the " +
      "HYBRID query (relational predicate + KNN) every knn_filtered_* " +
      "gate runs: probe partitions are read in full either way (the " +
      "stores are not partitioned by the filter column — ivf/lsh bytes " +
      "unchanged), the predicate-blind graph beam must widen to " +
      "efSearch/s to surface k survivors (knn_filtered_hnsw's " +
      "documented deployment rule, now priced), and PQ widens only " +
      "its shortlist rescore term. Two legs over the same stores and " +
      "the same query vector: unfiltered (s = 1) and label = 3 " +
      "(s ≈ 0.1) — at the fixture corpus the winner FLIPS pq → lsh on " +
      "selectivity alone (the widened rescore prices PQ out while the " +
      "37-bucket hamming probe set stays a few hundred rows), and at " +
      "sf0.1+ the unfiltered leg flips to the graph router first — " +
      "all data-derived. Selectivity travels as the EXACT " +
      "(n_match, n_total) pair and the widened knobs are integer " +
      "ceiling divisions, so the ENTIRE decision is integer/byte " +
      "arithmetic the oracle replays bit-for-bit: probe sets, both " +
      "widened closed forms, the argmin with ivf-precedence ties, " +
      "then exact top-5 under the predicate over the chosen " +
      "candidates (probe membership in SQL for ivf/lsh, THIS run's " +
      "recorded beam/shortlist ids for hnsw/pq). IvfProbeRuleSpec " +
      "pins the synthetic flips and the ceiling arithmetic.",
    (s, dir) => {
      val q = QueryVectors.queryVec64
      val (path, ivf, lsh) = servingIndexes(s, dir, lshRadius = 2)
      val nTotal = ivf.clusterRows.values.sum
      val nMatch = Tables.embeddings(s, dir).filter(col("label") === 3).count()
      // the unfiltered leg's predicate is TRUE, as in the oracle: every
      // leg is priced and ranked as a predicate + KNN query
      val legs = Seq(("all", nTotal, lit(true)), ("sel", nMatch, col("label") === 3))
      val outs = legs.map { case (tag, m, pred) =>
        val price = graft.plans.IvfProbeRule.priceServing(Seq(q), ivf, lsh,
          NswRouterStore.bound, gatePq(ivf), selectivity = Some(m -> nTotal))
        val (ranked, recorded) = serveOne(s, dir, price.chosen, q, k = 5, path,
          ivf, lsh, NswRouterStore, price.efEff, price.slEff, Some(pred))
        CostServingFilteredState.cands(dir) =
          CostServingFilteredState.cands.getOrElse(dir, Map.empty) + (tag -> recorded)
        ranked.select(Seq(lit(tag).as("leg"), col("vec_id"), col("label"),
            lit(price.chosen).as("chosen_index")) ++
            selectivityColumns(price, m, nTotal) ++
            Seq(round(col("distance_score"), 6).as("distance")): _*)
      }
      CostServingFilteredState.lastDir = Some(dir)
      outs.reduce(_ unionByName _)
        .orderBy(col("leg"), col("distance"), col("vec_id"))
    },
    oracle = None,
    oracleLate = Some(() =>
      CostServingFilteredState.lastDir.map { d =>
        val rec = CostServingFilteredState.cands.getOrElse(d, Map.empty)
        duckServingOracle(
          Seq(("all", "SELECT count(*) FROM embeddings", "TRUE"),
            ("sel", "SELECT count(*) FROM embeddings WHERE label = 3", "e.label = 3"))
            .map { case (tag, matchSql, predSql) =>
              OracleLeg(tag, Seq(0 -> QueryVectors.queryVec64),
                Map(0 -> rec.getOrElse(tag, Seq.empty)), Some(matchSql -> predSql))
            },
          k = 5, lshRadius = 2, NswRouterStore.bound, Some(PqStore.M -> 16),
          weights = None, bytesPerRow = 256,
          "leg, vec_id, label, chosen_index, n_match, n_total, ef_eff, sl_eff, " +
            "est_ivf_b, est_lsh_b, est_hnsw_b, est_pq_b, distance",
          "leg, distance, vec_id")
      }))

  private object CostServingCalState {
    val recorded = scala.collection.concurrent.TrieMap.empty[String, Seq[Long]]
    @volatile var lastDir: Option[String] = None
  }

  /** Per-family serving weights in ns/KiB, measured 2026-08-16 on this
    * round's near-quiet box by
    * `tools/run_main.sh graft.queries.CalibrateServing /root/testdata/sf0.1`
    * (median of 9 warm single-query runs over the gate stores ÷ the
    * priced KiB; raw probe JSON in RECALL.md "Serving latency
    * calibration"). Calibration constants are DATA like an index's
    * centroids — re-derive on new hardware with the same probe.
    */
  private[queries] val servingWeights =
    graft.plans.IvfProbeRule.ServingWeights(
      ivfNsPerKib = 1153585L, lshNsPerKib = 1887563L,
      hnswNsPerKib = 15938730L, pqNsPerKib = 6728523L)

  private val costServingCalibrated = QueryDef(
    "ann_cost_serving_calibrated",
    "LATENCY-CALIBRATED serving choice (r19 verdict #6) — the four-way " +
      "byte model run BESIDE its time-calibrated form: the same four " +
      "byte totals, each weighted by the family's MEASURED ns/KiB " +
      "(CalibrateServing probe at sf0.1, recorded in RECALL.md — the " +
      "routed beam pays ~15.6 μs/KiB of per-candidate random access " +
      "and per-shard dispatch while the probe paths stream columnar " +
      "partitions at ~1.1–1.9 μs/KiB), because bytes-read is a " +
      "portable unit but not a clock. The two decisions genuinely " +
      "DIFFER: at sf0.1 bytes pick the 16 KiB hnsw beam (255 ms " +
      "measured) while the calibration picks the 66 KiB lsh probe " +
      "scan (125 ms measured — 2.05× faster on the leg the models " +
      "disagree about); at the 500-row fixtures bytes pick pq while " +
      "the calibration still picks lsh. The gate EXECUTES the " +
      "calibrated winner, rides both decisions, all four byte totals " +
      "and all four integer ns costs (ceil(bytes/1024) × nsPerKib — " +
      "BIGINT-safe to petabyte scans) on every row, and the oracle " +
      "replays both argmins from scratch before re-ranking the " +
      "calibrated choice's candidates (probe membership in SQL; THIS " +
      "run's recorded ids for hnsw/pq).",
    (s, dir) => {
      val q = QueryVectors.queryVec64
      val (path, ivf, lsh) = servingIndexes(s, dir, lshRadius = 2)
      val price = graft.plans.IvfProbeRule.priceServing(Seq(q), ivf, lsh,
        NswRouterStore.bound, gatePq(ivf))
      val ns = price.weighted(servingWeights)
      CostServingCalState.lastDir = Some(dir)
      val (ranked, recorded) = serveOne(s, dir, ns.chosen, q, k = 10, path,
        ivf, lsh, NswRouterStore, price.efEff, price.slEff)
      CostServingCalState.recorded(dir) = recorded
      ranked.select(Seq(col("vec_id"), lit(price.chosen).as("byte_chosen"),
          lit(ns.chosen).as("cal_chosen")) ++
          graft.streaming.VectorServing.byteColumns(price) ++
          Seq(lit(ns.ivf).as("cost_ivf_ns"), lit(ns.lsh).as("cost_lsh_ns"),
            lit(ns.hnsw).as("cost_hnsw_ns"), lit(ns.pq.get).as("cost_pq_ns"),
            round(col("distance_score"), 6).as("distance")): _*)
        .orderBy(col("distance"), col("vec_id"))
    },
    oracle = None,
    oracleLate = Some(() =>
      CostServingCalState.lastDir.map { d =>
        duckServingOracle(
          Seq(OracleLeg("q", Seq(0 -> QueryVectors.queryVec64),
            Map(0 -> CostServingCalState.recorded.getOrElse(d, Seq.empty)))),
          k = 10, lshRadius = 2, NswRouterStore.bound, Some(PqStore.M -> 16),
          Some(servingWeights), bytesPerRow = 256,
          "vec_id, chosen_index AS byte_chosen, cal_chosen, " +
            "est_ivf_b, est_lsh_b, est_hnsw_b, est_pq_b, " +
            "cost_ivf_ns, cost_lsh_ns, cost_hnsw_ns, cost_pq_ns, distance",
          "distance, vec_id")
      }))

  private object CostServingBatchFilteredState {
    val cands = scala.collection.concurrent.TrieMap
      .empty[String, Map[String, Map[Int, Seq[Long]]]]
    @volatile var lastDir: Option[String] = None
  }

  private val costServingBatchFiltered = QueryDef(
    "ann_cost_serving_batch_filtered",
    "COMBINED batch × selectivity serving cost choice (r19 verdict #5) " +
      "— a production serving tier faces both at once: a BATCH of " +
      "hybrid predicate+KNN queries. IvfProbeRule.priceServing, given " +
      "both B and the selectivity pair, composes the two r19 models " +
      "orthogonally: probe paths sum " +
      "per-query probe bytes (selectivity-invariant, batch-linear), " +
      "the predicate-blind beam pays B × its 1/s-widened bound, and " +
      "PQ amortizes ONE shared code scan against B selectivity-widened " +
      "shortlist rescores — so the decision flips on (B, s) JOINTLY " +
      "(IvfProbeRuleSpec pins hnsw→ivf on selectivity alone at B=1 " +
      "and ivf→pq on batch size alone at fixed s). Measured: " +
      "at the 500-row fixtures selectivity alone flips pq→lsh at " +
      "either batch size; at sf1 (20k vectors) the flip is STRICTLY " +
      "JOINT — hnsw on three legs, pq only where the 5-query batch " +
      "meets the 12%-selective predicate (neither dimension alone " +
      "moves it); at sf10 the 1.6 MB code scan prices pq out of all " +
      "four legs. The gate " +
      "prices and EXECUTES the four-leg (B ∈ {1,5}) × (s ∈ {1, " +
      "label=3}) grid over the same stores; every leg's decision, the " +
      "exact (n_match, n_total) channel, the saturated integer knobs, " +
      "and all four byte totals ride the output, and the oracle " +
      "replays the whole decision per leg before re-ranking the " +
      "chosen candidates (probe membership in SQL; THIS run's " +
      "recorded beam/shortlist ids for hnsw/pq) under the predicate.",
    (s, dir) => {
      val corpus = Tables.embeddings(s, dir)
      val (path, ivf, lsh) = servingIndexes(s, dir, lshRadius = 2)
      val nTotal = ivf.clusterRows.values.sum
      val nMatch = corpus.filter(col("label") === 3).count()
      val p = NswStore.params
      val routerCents = NswRouterStore.ensure(s, dir)
      val cb = PqStore.ensure(s, dir)
      val codes = Pq.readEncoded(s, PqCodeStore.ensure(s, dir))
      val indexed = Ann.readIndexed(s, path)
      val legs = Seq(
        ("b1_all", batchQueryVecs.take(1), nTotal, None: Option[org.apache.spark.sql.Column]),
        ("b5_all", batchQueryVecs, nTotal, None),
        ("b1_sel", batchQueryVecs.take(1), nMatch, Some(col("label") === 3)),
        ("b5_sel", batchQueryVecs, nMatch, Some(col("label") === 3)))
      val outs = legs.map { case (tag, qs, m, pred) =>
        val price = graft.plans.IvfProbeRule.priceServing(qs.map(_._2), ivf, lsh,
          NswRouterStore.bound, gatePq(ivf), selectivity = Some(m -> nTotal))
        def withPred(df: org.apache.spark.sql.DataFrame) =
          pred.map(df.filter).getOrElse(df)
        def rank(legsDf: Seq[org.apache.spark.sql.DataFrame]) = {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("distance_score").asc, col("vec_id").asc)
          legsDf.reduce(_ unionByName _)
            .withColumn("knn_rank", row_number().over(w))
            .filter(col("knn_rank") <= 3)
        }
        val (ranked, rec) = price.chosen match {
          case "pq" =>
            // one shared ADC pass (the amortized term the model
            // priced), then the predicate-filtered rescore of each
            // query's sl_eff shortlist
            val (res, sl) = Pq.batchSearch(codes, withPred(corpus),
              "embedding", "vec_id", qs, cb, k = 3, price.slEff.toInt)
            (res, sl.map { case (q, ids) => q -> ids.map(_.asInstanceOf[Long]).sorted })
          case "hnsw" =>
            val (_, cands, _) = Nsw.routedBatchSearch(
              NswStore.opened(s, dir), "vec_id", qs, k = 3,
              routerCents, NswRouterStore.nprobe, p.copy(efSearch = price.efEff.toInt))
            val rec0 = qs.map { case (qid, _) =>
              qid -> cands.getOrElse(qid, Seq.empty).sorted
            }.toMap
            val legsDf = qs.map { case (qid, qv) =>
              Knn.search(withPred(corpus.filter(
                  col("vec_id").isin(rec0(qid): _*))),
                "embedding", "vec_id", qv, k = 3)
                .withColumn("query_id", lit(qid))
            }
            (rank(legsDf), rec0)
          case probe =>
            val legsDf = qs.map { case (qid, qv) =>
              Knn.search(withPred(graft.streaming.VectorServing.probeScan(
                  indexed, probe, qv, ivf, lsh)),
                "embedding", "vec_id", qv, k = 3)
                .withColumn("query_id", lit(qid))
            }
            (rank(legsDf), Map.empty[Int, Seq[Long]])
        }
        CostServingBatchFilteredState.cands(dir) =
          CostServingBatchFilteredState.cands.getOrElse(dir, Map.empty) +
            (tag -> rec)
        ranked.select(Seq(lit(tag).as("leg"),
          lit(qs.length.toLong).as("batch_size"), col("query_id"),
          col("knn_rank").cast("long").as("knn_rank"), col("vec_id"),
          lit(price.chosen).as("chosen_index")) ++
          selectivityColumns(price, m, nTotal) ++
          Seq(round(col("distance_score"), 6).as("distance")): _*)
      }
      CostServingBatchFilteredState.lastDir = Some(dir)
      outs.reduce(_ unionByName _)
        .orderBy(col("leg"), col("query_id"), col("knn_rank"))
    },
    oracle = None,
    oracleLate = Some(() =>
      CostServingBatchFilteredState.lastDir.map { d =>
        val rec = CostServingBatchFilteredState.cands.getOrElse(d, Map.empty)
        val all = ("SELECT count(*) FROM embeddings", "TRUE")
        val sel = ("SELECT count(*) FROM embeddings WHERE label = 3", "e.label = 3")
        duckServingOracle(
          Seq(("b1_all", batchQueryVecs.take(1), all), ("b5_all", batchQueryVecs, all),
            ("b1_sel", batchQueryVecs.take(1), sel), ("b5_sel", batchQueryVecs, sel))
            .map { case (tag, qs, filter) =>
              OracleLeg(tag, qs, rec.getOrElse(tag, Map.empty), Some(filter))
            },
          k = 3, lshRadius = 2, NswRouterStore.bound, Some(PqStore.M -> 16),
          weights = None, bytesPerRow = 256,
          "leg, batch_size, query_id, knn_rank, vec_id, chosen_index, " +
            "n_match, n_total, ef_eff, sl_eff, " +
            "est_ivf_b, est_lsh_b, est_hnsw_b, est_pq_b, distance",
          "leg, query_id, knn_rank")
      }))

  /** KMeans-built IVF index per (fixture, JVM) — the QUALITY centroid
    * path (Spark ML k-means‖, fixed seed) on the same persisted,
    * cluster-partitioned layout as [[IvfIndexStore]]. The fitted
    * centroids are kept for the LATE oracle builder: `oracleSql` is
    * dumped after the queries run, so the oracle mirrors the exact
    * centroid floats this run trained — the result and its oracle are
    * always self-consistent even though KMeans itself is not
    * SQL-recomputable.
    */
  private object KmeansIndexStore {
    val cents = scala.collection.concurrent.TrieMap.empty[String, Array[Array[Float]]]
    @volatile var lastDir: Option[String] = None
    private val written = scala.collection.concurrent.TrieMap.empty[String, String]
    def ensure(s: org.apache.spark.sql.SparkSession, dir: String,
               nlist: Int): (String, Array[Array[Float]]) = {
      val c = cents.getOrElseUpdate(dir,
        Ann.kmeansCentroids(Tables.embeddings(s, dir), "embedding", nlist))
      lastDir = Some(dir)
      val path = written.getOrElseUpdate(dir, {
        val p = TmpStores.pidScopedPath("graft_ivf_kidx", dir)
        Ann.writeIndexed(Tables.embeddings(s, dir), "embedding", c, p)
        p
      })
      (path, c)
    }
  }

  /** Per-fixture-dir PQ codebooks (m=8 subspaces × ksub=16 centroids over
    * the 64-d embeddings), fitted once per run — the late oracles embed
    * THIS run's codebook literals (KMeans is not SQL-recomputable; same
    * self-consistency contract as [[KmeansIndexStore]]).
    */
  private[queries] object PqStore {
    val M = 8; val Ksub = 16; val Dim = 64
    val books = scala.collection.concurrent.TrieMap
      .empty[String, Array[Array[Array[Float]]]]
    @volatile var lastDir: Option[String] = None
    def ensure(s: org.apache.spark.sql.SparkSession,
               dir: String): Array[Array[Array[Float]]] = {
      lastDir = Some(dir)
      books.getOrElseUpdate(dir,
        Pq.fitCodebooks(Tables.embeddings(s, dir), "embedding", Dim, M, Ksub))
    }
  }

  /** Exact decimal literal of a Double (parses to the identical double
    * in DuckDB — same rationale as [[Duck.floatLit]]).
    */
  private def dblLit(d: Double): String =
    new java.math.BigDecimal(d).toPlainString

  /** Shared late-oracle CTE chain for the PQ family: codebook VALUES →
    * per-(vector,subspace) nearest-code assignment (same sqrt'd L2 +
    * lower-cid tie rule as the Spark struct-min) → per-vector code row →
    * the fixed left-associated ADC add chain with the SAME driver-
    * computed distance-table literals the Spark plan uses.
    */
  private def duckPqCodes(cb: Array[Array[Array[Float]]]): String = {
    val m = cb.length; val dsub = cb(0)(0).length
    val cbRows = (for { mi <- 0 until m; ci <- cb(mi).indices } yield
      s"($mi, $ci, ${vecLit(cb(mi)(ci))})").mkString(",\n         ")
    def sub(mi: Int) =
      s"list_slice(e.embedding::DOUBLE[], ${mi * dsub + 1}, ${(mi + 1) * dsub})"
    // one rn ordering per subspace value of m — the CASE keeps a single
    // window pass while matching each subspace against its own slice
    val distByM = (0 until m).map(mi =>
      s"WHEN cb.m = $mi THEN ${duckL2(sub(mi), "cb.c")}").mkString(" ", "\n             ", "")
    val codeCols = (0 until m).map(mi =>
      s"MAX(CASE WHEN m = $mi THEN cid END) AS c$mi").mkString(",\n         ")
    s"""
    |WITH cb(m, cid, c) AS (
    |  VALUES $cbRows
    |), assigned AS (
    |  SELECT vec_id, m, cid FROM (
    |    SELECT e.vec_id, cb.m, cb.cid,
    |           row_number() OVER (PARTITION BY e.vec_id, cb.m
    |                              ORDER BY CASE$distByM
    |                              END, cb.cid) AS rn
    |    FROM embeddings e CROSS JOIN cb
    |  ) WHERE rn = 1
    |), codes AS (
    |  SELECT vec_id,
    |         $codeCols
    |  FROM assigned GROUP BY vec_id
    |)""".stripMargin
  }

  /** The fixed left-associated ADC add chain over `codes`-CTE columns
    * c0..c{m−1}, with THIS query's driver-computed distance table as
    * exact double literals — the SQL twin of `Pq.adcScore`.
    */
  private def duckAdcChain(cb: Array[Array[Array[Float]]],
                           q: Array[Float]): String =
    duckAdcChainT(Pq.adcTable(q, cb))

  /** The fixed left-associated ADC add chain for a PRECOMPUTED table —
    * shared by the raw-vector PQ family (table from the query vector)
    * and the IVF-PQ family (one table per probed cluster, from the
    * query RESIDUAL).
    */
  private def duckAdcChainT(t: Array[Array[Double]]): String =
    t.indices.map { mi =>
      val lits = t(mi).map(dblLit).mkString("[", ", ", "]::DOUBLE[]")
      s"list_extract($lits, c$mi + 1)"
    }.reduceLeft((a, b) => s"($a + $b)")

  private def duckPqAdc(cb: Array[Array[Array[Float]]]): String =
    s"""${duckPqCodes(cb)}, adc AS (
    |  SELECT vec_id, ${duckAdcChain(cb, QueryVectors.queryVec64)} AS adc_dist FROM codes
    |)""".stripMargin

  /** Persisted (vec_id, pq_codes) store per (sfDir, JVM) — the serving
    * layout `Pq.writeEncoded` produces; `ann_pq_store_adc` reads it and
    * ScanSavings measures its scan bytes against the vector store.
    */
  private[queries] object PqCodeStore {
    private val written = scala.collection.concurrent.TrieMap.empty[String, String]
    def ensure(s: org.apache.spark.sql.SparkSession, dir: String): String = {
      val cb = PqStore.ensure(s, dir)
      written.getOrElseUpdate(dir, {
        val p = TmpStores.pidScopedPath("graft_pq_codes", dir)
        Pq.writeEncoded(Tables.embeddings(s, dir), "embedding", "vec_id", cb, p)
        p
      })
    }
  }

  /** `adc`-CTE + top-k presentation for the single flagship query —
    * SHARED by `ann_pq_adc` (inline encode) and `ann_pq_store_adc`
    * (persisted codes): the stored codes ARE the recomputed codes, so
    * one oracle builder serves both (single-builder rule).
    */
  private[queries] def duckPqAdcTopSql(cb: Array[Array[Array[Float]]]): String =
    s"""
    |${duckPqAdc(cb)},
    |top AS (
    |  SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT 10
    |)
    |SELECT vec_id, round(adc_dist, 6) AS adc_distance
    |FROM top ORDER BY adc_distance, vec_id
    """.stripMargin.trim

  private val matryoshka = QueryDef(
    "ann_matryoshka_rescore",
    "Matryoshka (MRL) prefix-dimension search: stage 1 ranks by cosine " +
      "over only the FIRST 16 of 64 dims (a 4× cheaper scan when the " +
      "store is laid out prefix-first), shortlists 50; stage 2 exact " +
      "full-dim rescore on the shortlist. Both stages " +
      "TakeOrderedAndProject, zero shuffles, no model state — fully " +
      "SQL-recomputable (static oracle, list_slice mirror).",
    (s, dir) => {
      val q = QueryVectors.queryVec64
      val qPrefix = q.take(16)
      val cand = Tables.embeddings(s, dir)
        .withColumn("prefix_dist",
          graft.functions.VectorFunctions.cosineDistance(
            slice(col("embedding"), 1, 16), typedLit(qPrefix)))
        .orderBy(col("prefix_dist"), col("vec_id"))
        .limit(50)
      Knn.search(cand, "embedding", "vec_id", q, k = 10)
        .select(col("vec_id"), round(col("distance_score"), 6).as("distance"))
        .orderBy(col("distance"), col("vec_id"))
    },
    Some(s"""
      |WITH cand AS (
      |  SELECT vec_id, embedding
      |  FROM embeddings
      |  ORDER BY ${Duck.cosine("list_slice(embedding::DOUBLE[], 1, 16)",
          vecLit(QueryVectors.queryVec64.take(16)))}, vec_id
      |  LIMIT 50
      |), d AS (
      |  SELECT vec_id, ${duckCosine("embedding", vecLit(QueryVectors.queryVec64))} AS dist
      |  FROM cand
      |), top AS (
      |  SELECT vec_id, dist FROM d ORDER BY dist, vec_id LIMIT 10
      |)
      |SELECT vec_id, round(dist, 6) AS distance
      |FROM top ORDER BY distance, vec_id
      """.stripMargin.trim))

  private val pqStoreAdc = QueryDef(
    "ann_pq_store_adc",
    "ADC top-k over the PERSISTED codes store (Pq.writeEncoded: only " +
      "(vec_id, pq_codes) on disk — ~1/30 the vector store's bytes): " +
      "the serving-path scan reads no vectors at all; " +
      "TakeOrderedAndProject over the codes scan, zero shuffles. " +
      "Oracle = the ann_pq_adc SQL (stored codes ≡ recomputed codes — " +
      "a green row proves the write/read round trip preserved every " +
      "code).",
    (s, dir) => {
      val cb = PqStore.ensure(s, dir)
      val path = PqCodeStore.ensure(s, dir)
      Pq.search(Pq.readEncoded(s, path), "vec_id", QueryVectors.queryVec64, cb, k = 10)
        .select(col("vec_id"), round(col("adc_dist"), 6).as("adc_distance"))
        .orderBy(col("adc_distance"), col("vec_id"))
    },
    oracle = None,
    oracleLate = Some(() =>
      PqStore.lastDir.flatMap(PqStore.books.get).map(duckPqAdcTopSql)))

  private val pqAdc = QueryDef(
    "ann_pq_adc",
    "Product-quantization ANN (Jégou et al. 2011): 64-d float32 vectors " +
      "stored as 8 codebook codes (32× compression), query scored by " +
      "ADC — 8 literal-table lookups + 7 adds per row, a codegen'd " +
      "projection over the codes column with TakeOrderedAndProject on " +
      "top; the corpus vector column is never read and nothing " +
      "shuffles. KMeans codebooks are not SQL-recomputable, so the " +
      "oracle embeds this run's fitted codebook AND the driver-computed " +
      "ADC table as exact literals (late-bound, self-consistent per " +
      "run); selection is full-precision (adc, id), presentation " +
      "rounds to 6 decimals.",
    (s, dir) => {
      val cb = PqStore.ensure(s, dir)
      val enc = Pq.encode(Tables.embeddings(s, dir), "embedding", cb)
      Pq.search(enc, "vec_id", QueryVectors.queryVec64, cb, k = 10)
        .select(col("vec_id"), round(col("adc_dist"), 6).as("adc_distance"))
        .orderBy(col("adc_distance"), col("vec_id"))
    },
    oracle = None,
    oracleLate = Some(() =>
      PqStore.lastDir.flatMap(PqStore.books.get).map(duckPqAdcTopSql)))

  private val pqRescore = QueryDef(
    "ann_pq_rescore",
    "Two-stage PQ serving: ADC over the codes column shortlists 50 " +
      "candidates (compressed scan, no vector reads), then the exact " +
      "cosine re-ranks only those 50 for the final top-10 — both stages " +
      "are TakeOrderedAndProject, zero shuffles; the exact stage's cost " +
      "is bounded by the shortlist, not the corpus. Late oracle mirrors " +
      "both stages on the same fitted-codebook literals.",
    (s, dir) => {
      val cb = PqStore.ensure(s, dir)
      val enc = Pq.encode(Tables.embeddings(s, dir), "embedding", cb)
      Pq.searchRescore(enc, "embedding", "vec_id", QueryVectors.queryVec64, cb,
          k = 10, shortlist = 50)
        .select(col("vec_id"), round(col("distance_score"), 6).as("distance"))
        .orderBy(col("distance"), col("vec_id"))
    },
    oracle = None,
    oracleLate = Some(() =>
      PqStore.lastDir.flatMap(PqStore.books.get).map { cb =>
        val qLit = vecLit(QueryVectors.queryVec64)
        s"""
        |${duckPqAdc(cb)},
        |cand AS (
        |  SELECT vec_id FROM adc ORDER BY adc_dist, vec_id LIMIT 50
        |), d AS (
        |  SELECT e.vec_id, ${duckCosine("e.embedding", qLit)} AS dist
        |  FROM embeddings e WHERE e.vec_id IN (SELECT vec_id FROM cand)
        |), top AS (
        |  SELECT vec_id, dist FROM d ORDER BY dist, vec_id LIMIT 10
        |)
        |SELECT vec_id, round(dist, 6) AS distance
        |FROM top ORDER BY distance, vec_id
        """.stripMargin.trim
      }))

  private val pqBatch = QueryDef(
    "ann_pq_batch",
    "Batch multi-query PQ serving: the knn_batch query table scored " +
      "against the CODES column in one pass — each task looks every " +
      "row up in the 5 driver-computed ADC tables (table lookups, not " +
      "vector math) and keeps a bounded shortlist-20 heap per query; " +
      "the driver merges the heaps, then one In-pruned read of the " +
      "shortlisted vectors is exact-cosine rescored in the task. Two " +
      "Spark jobs, no shuffle. The micro-batch serving kernel — same " +
      "output shape as knn_batch. Late oracle: per-query ADC chains " +
      "over the shared recomputed codes + per-query rescore, unioned.",
    (s, dir) => {
      val cb = PqStore.ensure(s, dir)
      val enc = Pq.encode(Tables.embeddings(s, dir), "embedding", cb)
      Pq.batchSearchRescore(enc, "embedding", "vec_id", batchQueryVecs, cb,
          k = 3, shortlist = 20)
        .select(col("query_id"), col("knn_rank").cast("long").as("knn_rank"),
          col("vec_id"), round(col("distance_score"), 6).as("distance"))
        .orderBy(col("query_id"), col("knn_rank"))
    },
    oracle = None,
    oracleLate = Some(() =>
      PqStore.lastDir.flatMap(PqStore.books.get).map(duckPqBatchSql)))

  /** One-shot batch-PQ oracle over [[batchQueryVecs]] — SHARED by
    * `ann_pq_batch` and the streaming `stream_serve_pq` gate (final
    * sink ≡ this SQL), same single-builder rule as [[duckBatchKnnSql]].
    */
  private[queries] def duckPqBatchSql(cb: Array[Array[Array[Float]]]): String = {
    val adcCols = batchQueryVecs.map { case (i, v) =>
      s"${duckAdcChain(cb, v)} AS adc_$i"
    }.mkString(",\n         ")
    val branches = batchQueryVecs.map { case (i, v) =>
      val qLit = vecLit(v)
      s"""|cand_$i AS (
          |  SELECT vec_id FROM adc ORDER BY adc_$i, vec_id LIMIT 20
          |), d_$i AS (
          |  SELECT $i AS query_id, e.vec_id, ${duckCosine("e.embedding", qLit)} AS dist
          |  FROM embeddings e WHERE e.vec_id IN (SELECT vec_id FROM cand_$i)
          |)""".stripMargin
    }.mkString(", ")
    val union = batchQueryVecs.map { case (i, _) => s"SELECT * FROM d_$i" }
      .mkString("\n  UNION ALL ")
    s"""
    |${duckPqCodes(cb)}, adc AS (
    |  SELECT vec_id,
    |         $adcCols
    |  FROM codes
    |), $branches, u AS (
    |  $union
    |), r AS (
    |  SELECT query_id, vec_id, dist,
    |         row_number() OVER (PARTITION BY query_id
    |                            ORDER BY dist, vec_id) AS knn_rank
    |  FROM u
    |)
    |SELECT query_id, knn_rank, vec_id, round(dist, 6) AS distance
    |FROM r WHERE knn_rank <= 3 ORDER BY query_id, knn_rank
    """.stripMargin.trim
  }

  private val pqShapeAdaptive = QueryDef(
    "ann_pq_shape_adaptive",
    "Cache-regime-adaptive batch-PQ execution shape (r20 sf100 probe " +
      "finding): the amortized single-pass shortlist and B per-query " +
      "TakeOrdered scans do the SAME ADC arithmetic but their " +
      "wall-clock inverts with the cache regime — B zero-shuffle " +
      "scans ran ~2.4× faster at a cache-resident 2M-code store " +
      "(measured when the shared pass still ranked under a map-side " +
      "sort; it now keeps per-task heaps), while beyond " +
      "cache the shared pass wins by the full B× on disk bytes. " +
      "IvfProbeRule.choosePqBatchShape makes the call from ONE " +
      "replayable integer comparison (codesBytes = N·m vs the " +
      "deployment's cache budget — hardware data, like the calibrated " +
      "router's weights; B = 1 is always per-query). The gate runs " +
      "BOTH shapes through two synthetic budgets (1 KiB → shared, " +
      "1 GiB → perquery at every fixture) and the two legs must " +
      "produce IDENTICAL rankings — a shape-differential: the oracle " +
      "replays the decision arithmetic per leg and ONE ADC+rescore " +
      "ranking for both (the ADC determinism contract is exactly " +
      "what makes the shape a pure execution choice). " +
      "IvfProbeRuleSpec pins the flip on budget and the B=1 rule.",
    (s, dir) => {
      val cb = PqStore.ensure(s, dir)
      val corpus = Tables.embeddings(s, dir)
      val enc = Pq.encode(corpus, "embedding", cb)
      val n = corpus.count()
      val legs = Seq(("tight", 1024L), ("roomy", 1073741824L))
      val outs = legs.map { case (tag, budget) =>
        val (shape, codesBytes) = graft.plans.IvfProbeRule
          .choosePqBatchShape(n, PqStore.M, batchQueryVecs.length, budget)
        val ranked = shape match {
          case "shared" => Pq.batchSearchRescore(enc, "embedding", "vec_id",
            batchQueryVecs, cb, k = 3, shortlist = 20)
          case _ => Pq.batchSearchRescorePerQuery(enc, "embedding", "vec_id",
            batchQueryVecs, cb, k = 3, shortlist = 20)
        }
        ranked.select(lit(tag).as("leg"), lit(shape).as("shape_chosen"),
          lit(codesBytes).as("codes_bytes"), lit(budget).as("cache_budget"),
          col("query_id"), col("knn_rank").cast("long").as("knn_rank"),
          col("vec_id"), round(col("distance_score"), 6).as("distance"))
      }
      outs.reduce(_ unionByName _)
        .orderBy(col("leg"), col("query_id"), col("knn_rank"))
    },
    oracle = None,
    oracleLate = Some(() =>
      PqStore.lastDir.flatMap(PqStore.books.get).map { cb =>
        val adcCols = batchQueryVecs.map { case (i, v) =>
          s"${duckAdcChain(cb, v)} AS adc_$i"
        }.mkString(",\n         ")
        val branches = batchQueryVecs.map { case (i, v) =>
          val qLit = vecLit(v)
          s"""|cand_$i AS (
              |  SELECT vec_id FROM adc ORDER BY adc_$i, vec_id LIMIT 20
              |), d_$i AS (
              |  SELECT $i AS query_id, e.vec_id, ${duckCosine("e.embedding", qLit)} AS dist
              |  FROM embeddings e WHERE e.vec_id IN (SELECT vec_id FROM cand_$i)
              |)""".stripMargin
        }.mkString(", ")
        val union = batchQueryVecs.map { case (i, _) => s"SELECT * FROM d_$i" }
          .mkString("\n  UNION ALL ")
        val decs = Seq(("tight", 1024L), ("roomy", 1073741824L)).map {
          case (tag, budget) =>
            s"""|dec_$tag AS MATERIALIZED (
                |  SELECT (SELECT count(*) FROM embeddings)::BIGINT * 8 AS codes_bytes,
                |         ${budget}::BIGINT AS cache_budget,
                |         CASE WHEN ${batchQueryVecs.length} > 1
                |                AND (SELECT count(*) FROM embeddings)::BIGINT * 8 > $budget
                |              THEN 'shared' ELSE 'perquery' END AS shape_chosen
                |)""".stripMargin
        }.mkString(", ")
        val selects = Seq("tight", "roomy").map { tag =>
          s"""|SELECT '$tag' AS leg, d.shape_chosen, d.codes_bytes,
              |       d.cache_budget, r.query_id, r.knn_rank, r.vec_id,
              |       round(r.dist, 6) AS distance
              |FROM r CROSS JOIN dec_$tag d WHERE r.knn_rank <= 3""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""
        |${duckPqCodes(cb)}, adc AS MATERIALIZED (
        |  SELECT vec_id,
        |         $adcCols
        |  FROM codes
        |), $branches, u AS (
        |  $union
        |), r AS MATERIALIZED (
        |  SELECT query_id, vec_id, dist,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY dist, vec_id) AS knn_rank
        |  FROM u
        |), $decs
        |$selects
        |ORDER BY leg, query_id, knn_rank
        """.stripMargin.trim
      }))

  private val ivfRule = QueryDef(
    "ann_ivf_rule_rewrite",
    "Transparent KNN→IVF rewrite on the persisted-index read path: the " +
      "query itself is the PLAIN exact-KNN API over the stored corpus — " +
      "no explicit probe filter — but the table's path is registered in " +
      "IvfCatalog, so IvfProbeRule injects `cluster_id IN (3 nearest " +
      "lists)` above the scan, which cluster-partitioned parquet turns " +
      "into static partition pruning. The oracle is the probe-" +
      "RESTRICTED SQL: a green row proves the rewrite fired (an exact " +
      "unrewritten scan would return different rows).",
    (s, dir) => {
      val q = QueryVectors.queryVec64
      val corpus = Tables.embeddings(s, dir)
      val cents = Ann.seededCentroids(corpus, "embedding", "vec_id", nlist = 8)
      val path = IvfIndexStore.ensure(s, dir, cents)
      graft.plans.IvfCatalog.register(path, cents, nprobe = 3)
      Knn.search(Ann.readIndexed(s, path), "embedding", "vec_id", q, k = 10)
        .select(col("vec_id"), round(col("distance_score"), 6).as("distance"))
        .orderBy(col("distance"), col("vec_id"))
    },
    Some {
      val qLit = vecLit(QueryVectors.queryVec64)
      s"""
      |WITH cents AS (
      |  SELECT vec_id AS cid, embedding::DOUBLE[] AS c FROM embeddings WHERE vec_id < 8
      |), assigned AS (
      |  SELECT vec_id, embedding, cid AS cluster_id FROM (
      |    SELECT e.vec_id, e.embedding, c.cid,
      |           row_number() OVER (PARTITION BY e.vec_id
      |                              ORDER BY ${duckL2("e.embedding::DOUBLE[]", "c.c")}, c.cid) AS rn
      |    FROM embeddings e CROSS JOIN cents c
      |  ) WHERE rn = 1
      |), probes AS (
      |  SELECT cid FROM cents ORDER BY ${duckL2(qLit, "c")}, cid LIMIT 3
      |), d AS (
      |  SELECT vec_id, ${duckCosine("embedding", qLit)} AS dist
      |  FROM assigned WHERE cluster_id IN (SELECT cid FROM probes)
      |), top AS (
      |  SELECT vec_id, dist FROM d ORDER BY dist, vec_id LIMIT 10
      |)
      |SELECT vec_id, round(dist, 6) AS distance
      |FROM top ORDER BY distance, vec_id
      """.stripMargin.trim
    })

  private val ivfKmeansRule = QueryDef(
    "ann_ivf_kmeans_rewrite",
    "Transparent KNN→IVF rewrite over the KMEANS-built persisted index " +
      "(Spark ML k-means‖, fixed seed — the quality-centroid path, vs " +
      "the seeded-centroid index of ann_ivf_rule_rewrite): plain exact-" +
      "KNN API over the stored corpus, probe filter injected by " +
      "IvfProbeRule, cluster-partitioned parquet turns it into " +
      "partition pruning. KMeans is not SQL-recomputable, so the oracle " +
      "is built LATE: it embeds the exact centroid literals this run " +
      "fitted (oracleSql is dumped after the queries execute), keeping " +
      "result and oracle self-consistent per run.",
    (s, dir) => {
      val q = QueryVectors.queryVec64
      val (path, cents) = KmeansIndexStore.ensure(s, dir, nlist = 8)
      graft.plans.IvfCatalog.register(path, cents, nprobe = 3)
      Knn.search(Ann.readIndexed(s, path), "embedding", "vec_id", q, k = 10)
        .select(col("vec_id"), col("cluster_id").cast("long").as("cluster_id"),
          round(col("distance_score"), 6).as("distance"))
        .orderBy(col("distance"), col("vec_id"))
    },
    oracle = None,
    oracleLate = Some(() =>
      KmeansIndexStore.lastDir.flatMap(KmeansIndexStore.cents.get).map { cents =>
        val qLit = vecLit(QueryVectors.queryVec64)
        val values = cents.zipWithIndex
          .map { case (c, i) => s"($i, ${vecLit(c)})" }.mkString(",\n         ")
        s"""
        |WITH cents(cid, c) AS (
        |  VALUES $values
        |), assigned AS (
        |  SELECT vec_id, embedding, cid AS cluster_id FROM (
        |    SELECT e.vec_id, e.embedding, c.cid,
        |           row_number() OVER (PARTITION BY e.vec_id
        |                              ORDER BY ${duckL2("e.embedding::DOUBLE[]", "c.c")}, c.cid) AS rn
        |    FROM embeddings e CROSS JOIN cents c
        |  ) WHERE rn = 1
        |), probes AS (
        |  SELECT cid FROM cents ORDER BY ${duckL2(qLit, "c")}, cid LIMIT 3
        |), d AS (
        |  SELECT vec_id, cluster_id, ${duckCosine("embedding", qLit)} AS dist
        |  FROM assigned WHERE cluster_id IN (SELECT cid FROM probes)
        |), top AS (
        |  SELECT vec_id, cluster_id, dist FROM d ORDER BY dist, vec_id LIMIT 10
        |)
        |SELECT vec_id, cluster_id::BIGINT AS cluster_id, round(dist, 6) AS distance
        |FROM top ORDER BY distance, vec_id
        """.stripMargin.trim
        // cluster_id::BIGINT: the VALUES literal types cid as INT32,
        // but the Spark result casts to long — the driver gate
        // hash-compares SCHEMAS too, and INT-vs-BIGINT fails it
      }))

  private val filteredIvfRule = QueryDef(
    "knn_filtered_ivf_rewrite",
    "Hybrid predicate + transparent IVF rewrite: the query is the plain " +
      "filteredSearch API (label IN …) over the registered stored " +
      "corpus; IvfProbeRule injects the probe filter through the " +
      "intervening relational Filter, so the scan carries BOTH " +
      "PartitionFilters (cluster_id IN probes — whole directories " +
      "skipped) and PushedFilters (label) — the two pruning channels a " +
      "100 TB hybrid search needs at once. Oracle = probe-restricted " +
      "SQL with the same label predicate; green proves filter and " +
      "rewrite compose.",
    (s, dir) => {
      val q = QueryVectors.queryVec64
      val corpus = Tables.embeddings(s, dir)
      val cents = Ann.seededCentroids(corpus, "embedding", "vec_id", nlist = 8)
      val path = IvfIndexStore.ensure(s, dir, cents)
      graft.plans.IvfCatalog.register(path, cents, nprobe = 3)
      Knn.filteredSearch(Ann.readIndexed(s, path),
          col("label").isin(2, 5, 8), "embedding", "vec_id", q, k = 10)
        .select(col("vec_id"), col("label"),
          col("cluster_id").cast("long").as("cluster_id"),
          round(col("distance_score"), 6).as("distance"))
        .orderBy(col("distance"), col("vec_id"))
    },
    Some {
      val qLit = vecLit(QueryVectors.queryVec64)
      s"""
      |WITH cents AS (
      |  SELECT vec_id AS cid, embedding::DOUBLE[] AS c FROM embeddings WHERE vec_id < 8
      |), assigned AS (
      |  SELECT vec_id, label, embedding, cid AS cluster_id FROM (
      |    SELECT e.vec_id, e.label, e.embedding, c.cid,
      |           row_number() OVER (PARTITION BY e.vec_id
      |                              ORDER BY ${duckL2("e.embedding::DOUBLE[]", "c.c")}, c.cid) AS rn
      |    FROM embeddings e CROSS JOIN cents c
      |  ) WHERE rn = 1
      |), probes AS (
      |  SELECT cid FROM cents ORDER BY ${duckL2(qLit, "c")}, cid LIMIT 3
      |), d AS (
      |  SELECT vec_id, label, cluster_id, ${duckCosine("embedding", qLit)} AS dist
      |  FROM assigned
      |  WHERE cluster_id IN (SELECT cid FROM probes) AND label IN (2, 5, 8)
      |), top AS (
      |  SELECT vec_id, label, cluster_id, dist FROM d ORDER BY dist, vec_id LIMIT 10
      |)
      |SELECT vec_id, label, cluster_id, round(dist, 6) AS distance
      |FROM top ORDER BY distance, vec_id
      """.stripMargin.trim
    })

  private val mips = QueryDef(
    "knn_mips_topk",
    "Maximum-inner-product search (recommendation-style scoring, where " +
      "vector magnitude carries signal): top-10 by dot product " +
      "descending via the NegDot metric — same TakeOrderedAndProject " +
      "heap as the cosine flagship, the ordering expression is the " +
      "only change.",
    (s, dir) => {
      val q = QueryVectors.queryVec64
      Knn.search(Tables.embeddings(s, dir), "embedding", "vec_id", q,
          k = 10, metric = Knn.NegDot)
        .select(col("vec_id"),
          round(-col("distance_score"), 6).as("dot"))
        .orderBy(col("dot").desc, col("vec_id"))
    },
    Some(s"""
      |WITH d AS (
      |  SELECT vec_id,
      |         list_dot_product(embedding::DOUBLE[], ${vecLit(QueryVectors.queryVec64)}) AS dot
      |  FROM embeddings
      |), top AS (
      |  SELECT vec_id, dot FROM d ORDER BY dot DESC, vec_id LIMIT 10
      |)
      |SELECT vec_id, round(dot, 6) AS dot
      |FROM top ORDER BY dot DESC, vec_id
      """.stripMargin.trim))

  private val quantRescore = QueryDef(
    "knn_quantized_rescore",
    "Memory-bound ANN serving pattern: candidate top-30 ranked on the " +
      "int8-DEQUANTIZED vectors (4× less bandwidth per scanned vector " +
      "— at 100 TB the scan is memory/IO-bound and this is the win), " +
      "then exact float rescore of the 30 survivors to the final " +
      "top-10. Quantization error is mirrored exactly in the oracle " +
      "(round-half-up int8 + float32 dequant both recomputed in SQL).",
    (s, dir) => {
      import graft.functions.VectorFunctions._
      val q = QueryVectors.queryVec64
      val quant = Tables.embeddings(s, dir)
        .withColumn("amax", quantScale(col("embedding")))
        .withColumn("qv", quantizeInt8(col("embedding"), col("amax")))
        .withColumn("deq", dequantizeInt8(col("qv"), col("amax")))
      val cand = quant
        .withColumn("approx_d", cosineDistance(col("deq"), typedLit(q)))
        .orderBy(col("approx_d").asc, col("vec_id").asc)
        .limit(30)
      cand
        .withColumn("exact_d", cosineDistance(col("embedding"), typedLit(q)))
        .select(col("vec_id"),
          round(col("approx_d"), 6).as("approx_distance"),
          round(col("exact_d"), 6).as("distance"))
        .orderBy(col("distance"), col("vec_id"))
        .limit(10)
    },
    Some {
      val qLit = vecLit(QueryVectors.queryVec64)
      s"""
      |WITH e AS (
      |  SELECT vec_id, embedding, embedding::DOUBLE[] AS v FROM embeddings
      |), m AS (
      |  SELECT vec_id, embedding, v,
      |         list_max(list_transform(v, x -> abs(x))) AS amax
      |  FROM e
      |), dq AS (
      |  SELECT vec_id, embedding, amax,
      |         list_transform(v, x -> CAST(CAST(
      |           (CASE WHEN amax = 0 THEN 0 ELSE CAST(round(x / amax * 127) AS INT) END)::DOUBLE
      |             * amax / 127.0 AS FLOAT) AS DOUBLE)) AS deq
      |  FROM m
      |), cand AS (
      |  SELECT vec_id, embedding,
      |         ${duckCosine("deq", qLit)} AS approx_d
      |  FROM dq ORDER BY approx_d, vec_id LIMIT 30
      |), res AS (
      |  SELECT vec_id, approx_d,
      |         ${duckCosine("embedding", qLit)} AS exact_d
      |  FROM cand
      |)
      |SELECT vec_id, round(approx_d, 6) AS approx_distance, round(exact_d, 6) AS distance
      |FROM res ORDER BY distance, vec_id LIMIT 10
      """.stripMargin.trim
    })

  private val sqlApi = QueryDef(
    "knn_sql_api",
    "Flagship KNN expressed in pure SQL against the registered function " +
      "surface (spark.sql + cosine_distance from VectorFunctions" +
      ".registerAll / GraftExtensions) — same TakeOrderedAndProject plan " +
      "as the DataFrame API path.",
    (s, dir) => {
      Tables.embeddings(s, dir).createOrReplaceTempView("embeddings_v")
      val qArr = QueryVectors.queryVec64
        .map(f => s"CAST(${new java.math.BigDecimal(f.toDouble).toPlainString} AS FLOAT)")
        .mkString("array(", ", ", ")")
      // two-level shape: top-k SELECTION on the full-precision distance
      // (the inner Sort+Limit still plans as TakeOrderedAndProject), then
      // PRESENTATION ordered on the rounded projection — near-ties that
      // round equal get a cross-engine-deterministic (distance, vec_id)
      // output order
      s.sql(
        s"""SELECT vec_id, round(d, 6) AS distance
           |FROM (
           |  SELECT vec_id, cosine_distance(embedding, $qArr) AS d
           |  FROM embeddings_v
           |  ORDER BY d, vec_id
           |  LIMIT 10
           |)
           |ORDER BY distance, vec_id""".stripMargin)
    },
    Some(s"""
      |WITH d AS (
      |  SELECT vec_id, ${duckCosine("embedding", vecLit(QueryVectors.queryVec64))} AS dist
      |  FROM embeddings
      |), top AS (
      |  SELECT vec_id, dist FROM d ORDER BY dist, vec_id LIMIT 10
      |)
      |SELECT vec_id, round(dist, 6) AS distance
      |FROM top ORDER BY distance, vec_id
      """.stripMargin.trim))

  private val centroids = QueryDef(
    "vec_centroids_by_label",
    "Per-label embedding centroids (the IVF-refresh aggregation) in the " +
      "order-independent formulation: posexplode → exact decimal sums " +
      "per (label, position) → reassembled vector. The single-pass " +
      "Aggregator fast path (CentroidAggregator) is spec-tested against " +
      "this.",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      e.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg((sum(col("v").cast(org.apache.spark.sql.types.DecimalType(38, 12))).cast("double") /
          count(lit(1))).as("m"))
        .groupBy(col("label"))
        // Serialized to a fixed-decimal CSV string (not array<double>): the
        // driver harness pandas-sorts result cells and cannot hash ndarrays,
        // and DECIMAL(20,6)->string gives identical text in both engines.
        .agg(array_join(
          transform(sort_array(collect_list(struct(col("pos"), col("m")))),
            x => round(x.getField("m"), 6)
              .cast(org.apache.spark.sql.types.DecimalType(20, 6)).cast("string")),
          ",").as("centroid"))
        .orderBy(col("label"))
    },
    Some("""
      |WITH ex AS (
      |  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos, unnest(embedding) AS v
      |  FROM embeddings
      |), m AS (
      |  SELECT label, pos,
      |         CAST(SUM(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
      |  FROM ex GROUP BY label, pos
      |)
      |SELECT label,
      |       array_to_string(list(CAST(round(m, 6) AS DECIMAL(20,6))::VARCHAR ORDER BY pos), ',') AS centroid
      |FROM m GROUP BY label ORDER BY label
      """.stripMargin.trim))

  private val quantize = QueryDef(
    "vec_quantize_int8",
    "Symmetric per-vector int8 quantization (4× vector storage/" +
      "bandwidth cut, the memory-bound ANN serving trick): amax scale " +
      "+ HOF-transform rounding, pure codegen'd projection. Scale " +
      "serialized via the decimal-string pattern (driver hash can't " +
      "compare raw doubles across engines at ulp level).",
    (s, dir) => {
      import graft.functions.VectorFunctions.{quantScale, quantizeInt8}
      Tables.embeddings(s, dir)
        .filter(col("vec_id") < 10)
        .withColumn("amax", quantScale(col("embedding")))
        .select(col("vec_id"),
          round(col("amax"), 6)
            .cast(org.apache.spark.sql.types.DecimalType(20, 6)).cast("string").as("amax"),
          array_join(transform(quantizeInt8(col("embedding"), col("amax")),
            _.cast("string")), ",").as("q"))
        .orderBy(col("vec_id"))
    },
    Some("""
      |WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 10
      |), m AS (
      |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM e
      |)
      |SELECT vec_id,
      |       CAST(round(amax, 6) AS DECIMAL(20,6))::VARCHAR AS amax,
      |       array_to_string(list_transform(v, x ->
      |         CASE WHEN amax = 0 THEN 0 ELSE CAST(round(x / amax * 127) AS INT) END), ',') AS q
      |FROM m ORDER BY vec_id
      """.stripMargin.trim))

  private val groupTopk = QueryDef(
    "vec_group_topk",
    "Per-label top-3 nearest to the label's own centroid — the " +
      "per-tenant serving pattern (every tenant's most-representative " +
      "vectors in ONE query). Centroids use the order-independent " +
      "exact-decimal formulation (vec_centroids_by_label, unrounded), " +
      "broadcast back onto the scan (|labels| rows); the grouped top-k " +
      "is a rank window capped by WindowGroupLimit before any full " +
      "sort. Both engines rank on the ROUNDED distance with the id " +
      "tiebreak — the selection key IS the presented key (the decade-" +
      "gate tie lesson, ROUND10_NOTES #7).",
    (s, dir) => {
      import graft.functions.VectorFunctions.cosineDistance
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, dir)
      val cents = e
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg((sum(col("v").cast(org.apache.spark.sql.types.DecimalType(38, 12)))
          .cast("double") / count(lit(1))).as("m"))
        .groupBy(col("label"))
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("centroid"))
      val d = e.join(broadcast(cents), Seq("label"))
        .withColumn("dist",
          round(cosineDistance(col("embedding").cast("array<double>"), col("centroid")), 6))
      val w = Window.partitionBy(col("label")).orderBy(col("dist"), col("vec_id"))
      d.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("label"), col("rnk"), col("vec_id"), col("dist"))
        .orderBy(col("label"), col("rnk"))
    },
    Some("""
      |WITH ex AS (
      |  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos, unnest(embedding) AS v
      |  FROM embeddings
      |), m AS (
      |  SELECT label, pos,
      |         CAST(SUM(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
      |  FROM ex GROUP BY label, pos
      |), c AS (
      |  SELECT label, list(m ORDER BY pos) AS centroid FROM m GROUP BY label
      |), d AS (
      |  SELECT e.vec_id, e.label,
      |         round(1.0 - list_dot_product(e.embedding::DOUBLE[], c.centroid) /
      |           (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
      |            sqrt(list_dot_product(c.centroid, c.centroid))), 6) AS dist
      |  FROM embeddings e JOIN c USING (label)
      |)
      |SELECT label, rnk, vec_id, dist FROM (
      |  SELECT *, row_number() OVER (PARTITION BY label ORDER BY dist, vec_id) AS rnk
      |  FROM d)
      |WHERE rnk <= 3 ORDER BY label, rnk
      """.stripMargin.trim))

  /** Per-fixture-dir IVF-PQ composed index (seeded coarse centroids —
    * SQL-recomputable — + residual PQ codebooks, persisted
    * cluster-partitioned): fitted/written once per (dir, JVM); the late
    * oracle embeds THIS run's residual codebook + per-probe ADC-table
    * literals (KMeans codebooks are not SQL-recomputable — same
    * self-consistency contract as [[PqStore]]).
    */
  private[queries] object IvfPqStore {
    val Nlist = 8; val Nprobe = 3; val M = 8; val Ksub = 16; val Dim = 64
    val fitted = scala.collection.concurrent.TrieMap
      .empty[String, (Array[Array[Float]], Array[Array[Array[Float]]])]
    @volatile var lastDir: Option[String] = None
    def ensure(s: org.apache.spark.sql.SparkSession,
               dir: String): (Array[Array[Float]], Array[Array[Array[Float]]], String) = {
      lastDir = Some(dir)
      val (cents, books) = fitted.getOrElseUpdate(dir, {
        val corpus = Tables.embeddings(s, dir)
        val c = Ann.seededCentroids(corpus, "embedding", "vec_id", Nlist)
        (c, IvfPq.fitResidualCodebooks(corpus, "embedding", c, Dim, M, Ksub))
      })
      val path = TmpStores.memoizedTable("graft_ivfpq", dir) { root =>
        IvfPq.writeIndex(Tables.embeddings(s, dir), "embedding", "vec_id",
          cents, books, root)
        root
      }
      (cents, books, path)
    }
  }

  /** Late-bound IVF-PQ oracle: recomputes the seeded coarse assignment
    * and the double residuals in SQL, assigns residual codes against the
    * embedded codebook literals (same sqrt'd-L2 + lower-cid tie rule as
    * the Spark struct-min), selects the probe set in SQL (so a
    * driver/SQL probe disagreement surfaces as NULL scores → hash
    * mismatch), and scores through the SAME per-probed-cluster
    * driver-computed ADC tables the Spark plan dispatches on.
    */
  private def duckIvfPqSql(cents: Array[Array[Float]],
                           books: Array[Array[Array[Float]]]): String = {
    import IvfPqStore.{Dim, M, Nlist, Nprobe}
    val dsub = Dim / M
    val qLit = vecLit(QueryVectors.queryVec64)
    val cbRows = (for { mi <- 0 until M; ci <- books(mi).indices } yield
      s"($mi, $ci, ${vecLit(books(mi)(ci))})").mkString(",\n         ")
    val distByM = (0 until M).map(mi =>
      s"WHEN cb.m = $mi THEN ${duckL2(s"list_slice(r.r, ${mi * dsub + 1}, ${(mi + 1) * dsub})", "cb.cv")}")
      .mkString(" ", "\n             ", "")
    val codeCols = (0 until M).map(mi =>
      s"MAX(CASE WHEN m = $mi THEN cid END) AS c$mi").mkString(",\n         ")
    val probes = Ann.probeIds(QueryVectors.queryVec64, cents, Nprobe)
    val caseArms = IvfPq.adcTables(QueryVectors.queryVec64, cents, books, probes)
      .map { case (c, t) => s"WHEN cluster_id = $c THEN ${duckAdcChainT(t)}" }
      .mkString("\n           ", "\n           ", "")
    s"""
    |WITH cents AS (
    |  SELECT vec_id AS cid, embedding::DOUBLE[] AS c FROM embeddings WHERE vec_id < $Nlist
    |), assigned AS (
    |  SELECT vec_id, embedding, cid AS cluster_id FROM (
    |    SELECT e.vec_id, e.embedding, c.cid,
    |           row_number() OVER (PARTITION BY e.vec_id
    |                              ORDER BY ${duckL2("e.embedding::DOUBLE[]", "c.c")}, c.cid) AS rn
    |    FROM embeddings e CROSS JOIN cents c
    |  ) WHERE rn = 1
    |), resid AS (
    |  SELECT a.vec_id, a.cluster_id,
    |         list_transform(range($Dim), i -> (a.embedding::DOUBLE[])[i+1] - (c.c)[i+1]) AS r
    |  FROM assigned a JOIN cents c ON c.cid = a.cluster_id
    |), cb(m, cid, cv) AS (
    |  VALUES $cbRows
    |), acode AS (
    |  SELECT vec_id, cluster_id, m, cid FROM (
    |    SELECT r.vec_id, r.cluster_id, cb.m, cb.cid,
    |           row_number() OVER (PARTITION BY r.vec_id, cb.m
    |                              ORDER BY CASE$distByM
    |                              END, cb.cid) AS rn
    |    FROM resid r CROSS JOIN cb
    |  ) WHERE rn = 1
    |), codes AS (
    |  SELECT vec_id, cluster_id,
    |         $codeCols
    |  FROM acode GROUP BY vec_id, cluster_id
    |), probes AS (
    |  SELECT cid FROM cents ORDER BY ${duckL2(qLit, "c")}, cid LIMIT $Nprobe
    |), adc AS (
    |  SELECT vec_id, cluster_id,
    |         CASE$caseArms
    |         END AS adc_dist
    |  FROM codes WHERE cluster_id IN (SELECT cid FROM probes)
    |), top AS (
    |  SELECT vec_id, cluster_id, adc_dist FROM adc ORDER BY adc_dist, vec_id LIMIT 10
    |)
    |SELECT vec_id, cluster_id::BIGINT AS cluster_id, round(adc_dist, 6) AS adc_distance
    |FROM top ORDER BY adc_distance, vec_id
    """.stripMargin.trim
  }

  private val ivfPqAdc = QueryDef(
    "ann_ivfpq_adc",
    "IVF-PQ (IVFADC, Jégou et al. 2011 §IV) — the composed big-corpus " +
      "index: seeded coarse centroids route vectors to clusters, PQ " +
      "encodes the RESIDUAL (vector − centroid, computed in double on " +
      "both engines), and the store persists ONLY (vec_id, pq_codes) " +
      "partitioned by cluster_id. A query probes the 3 nearest of 8 " +
      "lists (static partition pruning — rows axis) and scores each " +
      "surviving row from its 8 codes via a CASE-dispatched " +
      "per-cluster ADC chain (bytes axis: no vector column in the " +
      "store) — the two scan-reduction axes compose in one layout, " +
      "~(nprobe/nlist)·(1/32) of the raw-vector bytes read. Residual " +
      "codebooks are KMeans ⇒ late-bound oracle (this run's codebook + " +
      "per-probe ADC tables as exact literals); the probe set is " +
      "re-derived in SQL so a probe disagreement surfaces as a hash " +
      "mismatch. Selection on full-precision (adc, id); presentation " +
      "rounds to 6 decimals.",
    (s, dir) => {
      val (cents, books, path) = IvfPqStore.ensure(s, dir)
      IvfPq.search(IvfPq.readIndex(s, path), "vec_id", QueryVectors.queryVec64,
          cents, books, nprobe = IvfPqStore.Nprobe, k = 10)
        .select(col("vec_id"), col("cluster_id").cast("long").as("cluster_id"),
          round(col("adc_dist"), 6).as("adc_distance"))
        .orderBy(col("adc_distance"), col("vec_id"))
    },
    oracle = None,
    oracleLate = Some(() =>
      IvfPqStore.lastDir.flatMap(IvfPqStore.fitted.get).map {
        case (cents, books) => duckIvfPqSql(cents, books)
      }))

  /** Per-fixture-dir PCA basis (mean + top-16 eigenvectors of the 64-d
    * embedding covariance), fitted once per run. The Gram accumulation
    * is shuffle-order-dependent floating math, so the basis is
    * run-scoped state: the late oracle embeds THIS run's (mean, basis)
    * literals — the same self-consistency contract as fitted KMeans
    * centroids ([[KmeansIndexStore]]/[[PqStore]]).
    */
  private[queries] object PcaStore {
    val K = 16; val Dim = 64
    val fitted = scala.collection.concurrent.TrieMap
      .empty[String, (Array[Double], Array[Array[Double]])]
    @volatile var lastDir: Option[String] = None
    def ensure(s: org.apache.spark.sql.SparkSession,
               dir: String): (Array[Double], Array[Array[Double]]) = {
      lastDir = Some(dir)
      fitted.getOrElseUpdate(dir,
        graft.operators.Pca.fit(Tables.embeddings(s, dir), "embedding", Dim, K))
    }
  }

  /** Late-bound PCA-space KNN oracle: projects every corpus vector onto
    * the embedded basis literals with the same sequential accumulation
    * as the Spark HOF fold, then mirrors the fixed left-associated
    * 16-term squared-distance chain to the projected query literals.
    */
  private def duckPcaKnnSql(mean: Array[Double],
                            basis: Array[Array[Double]]): String = {
    val qp = graft.operators.Pca.projectVec(QueryVectors.queryVec64, mean, basis)
    val meanLit = mean.map(dblLit).mkString("[", ", ", "]::DOUBLE[]")
    val pcCols = basis.zipWithIndex.map { case (row, j) =>
      val bLit = row.map(dblLit).mkString("[", ", ", "]::DOUBLE[]")
      s"list_sum(list_transform(range(${PcaStore.Dim}), i -> " +
        s"((embedding::DOUBLE[])[i+1] - ($meanLit)[i+1]) * (($bLit)[i+1]))) AS pc_$j"
    }.mkString(",\n         ")
    val chain = qp.indices.map(j =>
      s"(pc_$j - ${dblLit(qp(j))}) * (pc_$j - ${dblLit(qp(j))})")
      .reduceLeft((a, b) => s"($a + $b)")
    s"""
    |WITH pcs AS (
    |  SELECT vec_id,
    |         $pcCols
    |  FROM embeddings
    |), d AS (
    |  SELECT vec_id, sqrt($chain) AS dist FROM pcs
    |), top AS (
    |  SELECT vec_id, dist FROM d ORDER BY dist, vec_id LIMIT 10
    |)
    |SELECT vec_id, round(dist, 6) AS pca_distance
    |FROM top ORDER BY pca_distance, vec_id
    """.stripMargin.trim
  }

  private val pcaKnn = QueryDef(
    "vec_pca_knn",
    "PCA dimensionality reduction + reduced-space search: the corpus " +
      "covariance is ONE moment-pass aggregate (64 sums + the 2080-" +
      "entry upper triangle, map-side partials); the 64×64 eigen " +
      "problem solves on the DRIVER (cyclic Jacobi — never distribute " +
      "an O(dim³) problem that fits in L2 cache); projection to 16 " +
      "dims is a pure per-row sequential-fold expression with the " +
      "basis as literals — no shuffle, no UDF. The query runs exact " +
      "L2 top-10 in the 16-d projected space (4× fewer multiplies per " +
      "row than full-dim — the PCA-truncation serving trade). The " +
      "floating Gram is shuffle-order-dependent, so the oracle is " +
      "late-bound: it embeds THIS run's mean+basis and mirrors the " +
      "sequential projection fold and the fixed left-associated " +
      "distance chain.",
    (s, dir) => {
      val (mean, basis) = PcaStore.ensure(s, dir)
      val qp = graft.operators.Pca.projectVec(QueryVectors.queryVec64, mean, basis)
      val projected = graft.operators.Pca.project(
        Tables.embeddings(s, dir), "embedding", mean, basis)
      val chain = qp.indices.map(j =>
        (col(s"pc_$j") - lit(qp(j))) * (col(s"pc_$j") - lit(qp(j))))
        .reduceLeft(_ + _)
      projected.withColumn("dist", sqrt(chain))
        .orderBy(col("dist"), col("vec_id")).limit(10)
        .select(col("vec_id"), round(col("dist"), 6).as("pca_distance"))
        .orderBy(col("pca_distance"), col("vec_id"))
    },
    oracle = None,
    oracleLate = Some(() =>
      PcaStore.lastDir.flatMap(PcaStore.fitted.get).map {
        case (mean, basis) => duckPcaKnnSql(mean, basis)
      }))

  private val rpKnn = QueryDef(
    "vec_rp_knn",
    "Johnson–Lindenstrauss random projection + reduced-space search — " +
      "the DATA-INDEPENDENT dimensionality reduction next to PCA's " +
      "fitted one: 16 md5-derived ±1 (Rademacher) planes project 64→16 " +
      "dims as 16 codegen'd sequential dot products per row (no fit, " +
      "no model state, no shuffle), then exact L2 top-10 in the " +
      "projected space via the fixed left-associated distance chain. " +
      "Because the planes are md5-recomputable, the oracle is fully " +
      "STATIC — it rebuilds the planes in SQL and projects the corpus " +
      "with the same sequential accumulation; the query's 16 projected " +
      "values are driver-computed exact-decimal literals on both " +
      "engines (a pure function of two fixed constants).",
    (s, dir) => {
      val planes = Ann.signPlanes(dim = 64, nBits = 16, tag = "rp")
      val q = QueryVectors.queryVec64
      val qp = planes.map { p =>
        var acc = 0.0; var i = 0
        while (i < 64) { acc += q(i).toDouble * p(i).toDouble; i += 1 }
        acc
      }
      val projected = planes.zipWithIndex.foldLeft(Tables.embeddings(s, dir)) {
        case (df, (p, j)) => df.withColumn(s"rp_$j",
          graft.functions.VectorFunctions.dotProduct(col("embedding"), typedLit(p.toSeq)))
      }
      val chain = qp.indices.map(j =>
        (col(s"rp_$j") - lit(qp(j))) * (col(s"rp_$j") - lit(qp(j))))
        .reduceLeft(_ + _)
      projected.withColumn("dist", sqrt(chain))
        .orderBy(col("dist"), col("vec_id")).limit(10)
        .select(col("vec_id"), round(col("dist"), 6).as("rp_distance"))
        .orderBy(col("rp_distance"), col("vec_id"))
    },
    Some {
      val planes = Ann.signPlanes(dim = 64, nBits = 16, tag = "rp")
      val q = QueryVectors.queryVec64
      val qp = planes.map { p =>
        var acc = 0.0; var i = 0
        while (i < 64) { acc += q(i).toDouble * p(i).toDouble; i += 1 }
        acc
      }
      val chainSql = qp.indices.map { j =>
        val l = dblLit(qp(j))
        s"(ys[${j + 1}] - $l) * (ys[${j + 1}] - $l)"
      }.reduceLeft((a, b) => s"($a + $b)")
      s"""
      |WITH planes AS (
      |  SELECT b, list_transform(range(64), j ->
      |    CASE WHEN ('0x' || substring(md5('rp:' || b::VARCHAR || ':' || j::VARCHAR), 1, 12))::BIGINT % 2 = 0
      |         THEN 1.0 ELSE -1.0 END) AS plane
      |  FROM range(16) t(b)
      |), proj AS (
      |  SELECT e.vec_id, p.b,
      |         list_sum(list_transform(range(64), i -> (e.embedding::DOUBLE[])[i+1] * (p.plane)[i+1])) AS y
      |  FROM embeddings e CROSS JOIN planes p
      |), pv AS (
      |  SELECT vec_id, list(y ORDER BY b) AS ys FROM proj GROUP BY vec_id
      |), d AS (
      |  SELECT vec_id, sqrt($chainSql) AS dist FROM pv
      |), top AS (
      |  SELECT vec_id, dist FROM d ORDER BY dist, vec_id LIMIT 10
      |)
      |SELECT vec_id, round(dist, 6) AS rp_distance
      |FROM top ORDER BY rp_distance, vec_id
      """.stripMargin.trim
    })

  /** Sign bits of 32 consecutive components packed into one BIGINT
    * word (bit j = component off+j > 0) — a sequential fold over a
    * powers-of-two literal array, shuffle-free.
    */
  private def packWord(vec: org.apache.spark.sql.Column, off: Int): org.apache.spark.sql.Column =
    aggregate(
      zip_with(slice(vec, off + 1, 32),
        typedLit((0 until 32).map(j => 1L << j)),
        (x, p) => when(x > 0, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)

  /** Persisted (vec_id, b_lo, b_hi) binary-code store per (sfDir, JVM)
    * — 16 bytes of sign bits for a 256-byte vector.
    */
  private[queries] object BqStore {
    def ensure(s: org.apache.spark.sql.SparkSession, dir: String): String =
      TmpStores.memoizedTable("graft_bq", dir) { root =>
        Tables.embeddings(s, dir)
          .select(col("vec_id"),
            packWord(col("embedding"), 0).as("b_lo"),
            packWord(col("embedding"), 32).as("b_hi"))
          .write.mode("overwrite").parquet(root)
        root
      }
  }

  private val bqHamming = QueryDef(
    "vec_bq_hamming_rescore",
    "Binary quantization serving — the 1-bit-per-dimension compression " +
      "extreme (32× smaller than float32; the BQ mode modern vector " +
      "stores ship next to int8 and PQ): each vector's 64 sign bits " +
      "pack into two BIGINT words persisted as (vec_id, b_lo, b_hi); " +
      "the query scans ONLY that 16-byte-per-row store, scoring each " +
      "row with two XOR + two popcount instructions (codegen'd " +
      "bit_count), shortlists 50 by (hamming, vec_id) — integer keys, " +
      "zero float-parity surface — and exact-rescores only the " +
      "shortlist's vectors (fetched by id from the primary store). " +
      "Sign-bit packing is pure arithmetic, so the oracle is fully " +
      "STATIC: DuckDB repacks the corpus and mirrors both stages.",
    (s, dir) => {
      val q = QueryVectors.queryVec64
      def qWord(off: Int): Long =
        (0 until 32).map(j => if (q(off + j) > 0f) 1L << j else 0L).sum
      val store = s.read.parquet(BqStore.ensure(s, dir))
      val ham = bit_count(col("b_lo").bitwiseXOR(lit(qWord(0)))) +
        bit_count(col("b_hi").bitwiseXOR(lit(qWord(32))))
      val shortlist = store.withColumn("hamming", ham)
        .orderBy(col("hamming"), col("vec_id")).limit(50)
      Knn.search(shortlist.join(Tables.embeddings(s, dir), "vec_id"),
          "embedding", "vec_id", q, k = 10)
        .select(col("vec_id"), col("hamming").cast("long").as("hamming"),
          round(col("distance_score"), 6).as("distance"))
        .orderBy(col("distance"), col("vec_id"))
    },
    Some {
      val q = QueryVectors.queryVec64
      def qWord(off: Int): Long =
        (0 until 32).map(j => if (q(off + j) > 0f) 1L << j else 0L).sum
      def pack(off: Int) =
        s"(list_sum(list_transform(range(32), j -> CASE WHEN (embedding::DOUBLE[])[j+${off + 1}] > 0 " +
          s"THEN (1::BIGINT << j) ELSE 0 END)))::BIGINT"
      s"""
      |WITH packed AS (
      |  SELECT vec_id, embedding,
      |         ${pack(0)} AS b_lo,
      |         ${pack(32)} AS b_hi
      |  FROM embeddings
      |), sh AS (
      |  SELECT vec_id, embedding,
      |         (bit_count(xor(b_lo, ${qWord(0)}::BIGINT))
      |          + bit_count(xor(b_hi, ${qWord(32)}::BIGINT)))::BIGINT AS hamming
      |  FROM packed
      |), cand AS (
      |  SELECT vec_id, embedding, hamming FROM sh ORDER BY hamming, vec_id LIMIT 50
      |), d AS (
      |  SELECT vec_id, hamming, ${duckCosine("embedding", vecLit(QueryVectors.queryVec64))} AS dist
      |  FROM cand
      |), top AS (
      |  SELECT vec_id, hamming, dist FROM d ORDER BY dist, vec_id LIMIT 10
      |)
      |SELECT vec_id, hamming, round(dist, 6) AS distance
      |FROM top ORDER BY distance, vec_id
      """.stripMargin.trim
    })

  /** MMR probe: the e2e embed pipeline's model + query text, so the
    * shortlist provably contains real near-duplicate documents (three
    * pairs with pairwise sim ≥ 0.99 at sf0.01) and the diversification
    * is non-degenerate.
    */
  private val mmrModel = graft.functions.Md5PortableEmbedder(dim = 64)
  private val mmrQueryVec = mmrModel.encode("graft portable embed knn query")

  private val mmrDiversify = QueryDef(
    "knn_mmr_diversify",
    "MMR diversified reranking over the embedded documents corpus: " +
      "distributed exact top-20 shortlist (TakeOrderedAndProject, no " +
      "corpus shuffle) → driver-side greedy selection of 10 with " +
      "λ = 0.5, demoting candidates similar to already-picked results " +
      "(the shortlist contains three near-dup pairs with sim ≥ 0.99 — " +
      "MMR visibly reorders them). The oracle recomputes the float32 " +
      "corpus vectors in SQL and replays the greedy as a recursive CTE " +
      "(argmax per step, 6-decimal re-rounding, id tiebreaks), so a " +
      "green hash proves the sequential selection — not just the " +
      "shortlist — is engine-exact.",
    (s, dir) => {
      import graft.functions.Embeddings
      import graft.operators.Mmr
      val d = Tables.documentsSpread(s, dir)
      val embedded = Embeddings.embedDataFrame(
        d.select("doc_id", "text"), "text", "vec", mmrModel)
      Mmr.diversifiedSearch(embedded, "vec", "doc_id", mmrQueryVec,
        k = 10, shortlist = 20, lambda = 0.5)
    },
    Some {
      val qLit = Duck.vecLit(mmrQueryVec)
      val withRec = Duck.docToks.replaceFirst("WITH ", "WITH RECURSIVE ")
      // MATERIALIZED on the BASE tables (vecs, d), not on the CTEs the
      // recursion references: the recursive UNION ALL re-inlines every
      // plain CTE per step — unpinned, that is 10+ full-corpus embed
      // chains (OOM at sf1) — while pinning cand/ce/sims themselves
      // trips a DuckDB 1.0 planner bug where the step-2 correlated
      // max-subquery over a materialized chain returns NULL. With
      // vecs/d pinned, the per-step re-derivation of cand/ce/sims is a
      // top-20 sort + 380 cosines over tiny inputs (2 s at sf1).
      val vecsMat = Duck.md5EmbedVecs(64)
        .replace("vecs AS (", "vecs AS MATERIALIZED (")
      s"""
      |$withRec, $vecsMat,
      |d AS MATERIALIZED (
      |  SELECT doc_id, round(${Duck.cosine("v", qLit)}, 6) AS dist FROM vecs
      |), cand AS (
      |  SELECT doc_id, 1.0 - dist AS rel FROM d ORDER BY dist, doc_id LIMIT 20
      |), ce AS (
      |  SELECT c.doc_id, c.rel, vecs.v FROM cand c JOIN vecs ON vecs.doc_id = c.doc_id
      |), sims AS (
      |  SELECT a.doc_id AS ia, b.doc_id AS ib, round(1.0 - ${Duck.cosine("a.v", "b.v")}, 6) AS sim
      |  FROM ce a JOIN ce b ON a.doc_id <> b.doc_id
      |), pick AS (
      |  (SELECT 1 AS pick_order, doc_id, round(0.5 * rel, 6) AS mmr_score, [doc_id] AS selected
      |   FROM cand ORDER BY round(0.5 * rel, 6) DESC, doc_id LIMIT 1)
      |  UNION ALL
      |  (SELECT p.pick_order + 1, c.doc_id, c.mmr_score, list_append(p.selected, c.doc_id)
      |   FROM pick p, LATERAL (
      |     SELECT doc_id, round(0.5 * rel - 0.5 * mx, 6) AS mmr_score FROM (
      |       SELECT c2.doc_id, c2.rel,
      |              (SELECT max(s.sim) FROM sims s
      |               WHERE s.ia = c2.doc_id AND list_contains(p.selected, s.ib)) AS mx
      |       FROM cand c2 WHERE NOT list_contains(p.selected, c2.doc_id))
      |     ORDER BY mmr_score DESC, doc_id LIMIT 1) c
      |   WHERE p.pick_order < 10)
      |)
      |SELECT pick_order, doc_id, mmr_score FROM pick ORDER BY pick_order
      """.stripMargin.trim
    })

  private val recallEval = QueryDef(
    "ann_recall_eval",
    "Recall@10 telemetry for the LSH probe path, oracle-gated: 10 " +
      "corpus-point queries broadcast onto the corpus, exact top-10 and " +
      "radius-1 probe top-10 both rank as row_number ≤ k (Spark " +
      "rewrites to WindowGroupLimit — map tasks forward ≤ k rows per " +
      "query, the corpus itself never shuffles), and per-query overlap " +
      "counts become the recall curve a production user tunes " +
      "nBits/radius against. The oracle recomputes planes, buckets, " +
      "hamming probe sets, and both rankings in SQL — a green hash " +
      "gates the QUALITY measurement itself, not just the search paths.",
    (s, dir) => {
      val planes = Ann.signPlanes(dim = 64, nBits = 8)
      val emb = Tables.embeddings(s, dir)
      Ann.lshRecallEval(emb, "embedding", "vec_id",
        emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        planes, k = 10, radius = 1)
    },
    Some {
      s"""
      |WITH planes AS (
      |  SELECT b, list_transform(range(64), j ->
      |    CASE WHEN ('0x' || substring(md5('lsh:' || b::VARCHAR || ':' || j::VARCHAR), 1, 12))::BIGINT % 2 = 0
      |         THEN 1.0 ELSE -1.0 END) AS plane
      |  FROM (SELECT unnest(range(8)) AS b)
      |), bk AS (
      |  SELECT e.vec_id,
      |         sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.plane) >= 0
      |                  THEN (1::BIGINT << p.b) ELSE 0 END)::BIGINT AS lsh_bucket
      |  FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id
      |), q AS (
      |  SELECT e.vec_id AS qid, e.embedding::DOUBLE[] AS qv, bk.lsh_bucket AS qbucket
      |  FROM embeddings e JOIN bk ON bk.vec_id = e.vec_id
      |  WHERE e.vec_id < 10
      |), scored AS (
      |  SELECT q.qid, e.vec_id,
      |         round(${Duck.cosine("e.embedding::DOUBLE[]", "q.qv")}, 6) AS dist,
      |         len(list_filter(range(8), i ->
      |             ((bk.lsh_bucket >> i) & 1) <> ((q.qbucket >> i) & 1))) AS hamming
      |  FROM embeddings e JOIN bk ON bk.vec_id = e.vec_id CROSS JOIN q
      |), et AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn
      |    FROM scored) WHERE rn <= 10
      |), at AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn
      |    FROM scored WHERE hamming <= 1) WHERE rn <= 10
      |), ne AS (SELECT qid, count(*) AS n_exact FROM et GROUP BY qid),
      |na AS (SELECT qid, count(*) AS n_ann FROM at GROUP BY qid),
      |ov AS (
      |  SELECT e.qid, count(*) AS n_overlap FROM et e
      |  JOIN at a ON a.qid = e.qid AND a.vec_id = e.vec_id GROUP BY e.qid
      |)
      |SELECT ne.qid, ne.n_exact,
      |       COALESCE(na.n_ann, 0) AS n_ann,
      |       COALESCE(ov.n_overlap, 0) AS n_overlap,
      |       CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) / CAST(10 AS DOUBLE) AS recall
      |FROM ne LEFT JOIN na ON na.qid = ne.qid LEFT JOIN ov ON ov.qid = ne.qid
      |ORDER BY ne.qid
      """.stripMargin.trim
    })

  private val ivfRecallEvalQ = QueryDef(
    "ann_ivf_recall_eval",
    "Recall@10-vs-nprobe curve for the seeded IVF probe path (nlist=8, " +
      "nprobe ∈ {1,2,4,8}) — the tuning artifact a production user " +
      "reads before setting nprobe. One corpus pass scores 10 " +
      "broadcast corpus-point queries; the exact branch and each " +
      "nprobe branch rank as row_number ≤ k (WindowGroupLimit, no " +
      "corpus shuffle); probe sets come from the driver exactly like " +
      "the serving path. The oracle re-derives centroids, assignment, " +
      "per-query probe ranks, and both rankings in SQL — at nprobe = " +
      "nlist the curve must close at recall 1.0, which the gate checks " +
      "as data, not as a spec assertion.",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = Ann.seededCentroids(emb, "embedding", "vec_id", 8)
      val qs = emb.filter(col("vec_id") < 10).select("vec_id", "embedding")
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq.sortBy(_._1)
      Ann.ivfRecallEval(emb, "embedding", "vec_id", qs, cents,
        k = 10, nprobes = Seq(1, 2, 4, 8))
    },
    Some {
      s"""
      |WITH cents AS (
      |  SELECT vec_id AS cid, embedding::DOUBLE[] AS c FROM embeddings WHERE vec_id < 8
      |), q AS (
      |  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10
      |), assigned AS (
      |  SELECT vec_id, cluster_id FROM (
      |    SELECT e.vec_id, c.cid AS cluster_id,
      |           row_number() OVER (PARTITION BY e.vec_id
      |                              ORDER BY ${duckL2("e.embedding::DOUBLE[]", "c.c")}, c.cid) AS rn
      |    FROM embeddings e CROSS JOIN cents c
      |  ) WHERE rn = 1
      |), crank AS (
      |  SELECT qid, cid,
      |         row_number() OVER (PARTITION BY qid
      |                            ORDER BY ${duckL2("qv", "c")}, cid) AS crank
      |  FROM q CROSS JOIN cents
      |), scored AS (
      |  SELECT q.qid, e.vec_id, a.cluster_id,
      |         round(${duckCosine("e.embedding", "q.qv")}, 6) AS dist
      |  FROM embeddings e JOIN assigned a ON a.vec_id = e.vec_id CROSS JOIN q
      |), et AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn
      |    FROM scored) WHERE rn <= 10
      |), np AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
      |annt AS (
      |  SELECT nprobe, qid, vec_id FROM (
      |    SELECT n.nprobe, s.qid, s.vec_id,
      |           row_number() OVER (PARTITION BY n.nprobe, s.qid ORDER BY s.dist, s.vec_id) AS rn
      |    FROM scored s
      |    JOIN crank cr ON cr.qid = s.qid AND cr.cid = s.cluster_id
      |    CROSS JOIN np n
      |    WHERE cr.crank <= n.nprobe) WHERE rn <= 10
      |), pq AS (
      |  SELECT a.nprobe, a.qid, count(*) AS n_overlap FROM annt a
      |  JOIN et e ON e.qid = a.qid AND e.vec_id = a.vec_id GROUP BY 1, 2
      |)
      |SELECT nprobe, count(*) AS n_queries,
      |       CAST(SUM(n_overlap) AS BIGINT) AS sum_overlap,
      |       CAST(SUM(n_overlap) AS DOUBLE) / CAST(100 AS DOUBLE) AS mean_recall,
      |       CAST(MIN(n_overlap) AS DOUBLE) / CAST(10 AS DOUBLE) AS min_recall,
      |       CAST(MAX(n_overlap) AS DOUBLE) / CAST(10 AS DOUBLE) AS max_recall
      |FROM pq GROUP BY nprobe ORDER BY nprobe
      """.stripMargin.trim
    })

  private val quantError = QueryDef(
    "vec_quantization_error",
    "Int8 reconstruction-error report per label: mean squared error of " +
      "dequantize(quantize(v)) against the float corpus — the " +
      "telemetry read BEFORE switching serving to vec_quantize_int8's " +
      "4×-smaller vectors (labels whose geometry is fine-grained " +
      "relative to their amax lose more; this is the number that says " +
      "whether int8 or the PQ family is the right compression). Each " +
      "per-element squared error evaluates in one fixed double shape " +
      "(x − round(x/amax·127)·amax/127)², rounds at 12, and " +
      "accumulates in DECIMAL(38,12) (order-independent — element sums " +
      "never reassociate); MSE is one IEEE division. One scan-side " +
      "explode + one |labels|-row rollup.",
    (s, dir) => {
      import graft.functions.VectorFunctions.quantScale
      val dec12 = org.apache.spark.sql.types.DecimalType(38, 12)
      val ex = Tables.embeddings(s, dir)
        .withColumn("amax", quantScale(col("embedding")))
        .select(col("label"), col("amax"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .withColumn("xd", col("x").cast("double"))
        .withColumn("q", when(col("amax") === 0.0, lit(0))
          .otherwise(round(col("xd") / col("amax") * 127.0).cast("int")))
        .withColumn("err", col("xd") - col("q").cast("double") * col("amax") / lit(127.0))
      ex.groupBy(col("label"))
        .agg(count(lit(1)).as("n_elems"),
          round(sum(round(col("err") * col("err"), 12).cast(dec12)).cast("double") /
            count(lit(1)).cast("double"), 12).as("mse"))
        .orderBy(col("label"))
    },
    Some("""
      |WITH e AS (
      |  SELECT label, embedding::DOUBLE[] AS v,
      |         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS amax
      |  FROM embeddings
      |), ex AS (
      |  SELECT label, amax, unnest(v) AS xd FROM e
      |), q AS (
      |  SELECT label,
      |         xd - (CASE WHEN amax = 0 THEN 0
      |               ELSE CAST(round(xd / amax * 127.0) AS INT) END)::DOUBLE
      |              * amax / 127.0 AS err
      |  FROM ex
      |)
      |SELECT label, count(*) AS n_elems,
      |       round(CAST(SUM(CAST(round(err * err, 12) AS DECIMAL(38,12))) AS DOUBLE) /
      |             count(*)::DOUBLE, 12) AS mse
      |FROM q GROUP BY label ORDER BY label
      """.stripMargin.trim))

  private val dimStatsQ = QueryDef(
    "vec_dim_stats",
    "Per-DIMENSION embedding statistics — the QC pass run before " +
      "trusting a vector column for ANN/PCA/dedup: mean, variance, " +
      "and extremes for each of the 64 dimensions surface dead dims " +
      "(zero variance — wasted storage and a degenerate PQ subspace), " +
      "mean offsets (un-centered spaces skew IVF centroids), and " +
      "runaway dims that dominate L2. One posexplode + one " +
      "dimension-keyed rollup — 64 output rows at any corpus size, " +
      "map-side combining carries 64 partials per task. Float " +
      "discipline: per-element terms round at 12 into DECIMAL(38,12) " +
      "sums (the vec_quantization_error channel), variance = " +
      "E[x²] − E[x]² evaluated in ONE fixed double shape on both " +
      "engines, presentation rounds at 6.",
    (s, dir) => {
      val dec12 = org.apache.spark.sql.types.DecimalType(38, 12)
      val ex = Tables.embeddings(s, dir)
        .select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .withColumn("xd", col("x").cast("double"))
      ex.groupBy(col("pos").cast("long").as("pos"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("xd"), 12).cast(dec12)).as("sx"),
          sum(round(col("xd") * col("xd"), 12).cast(dec12)).as("sxx"),
          min(col("xd")).as("mn"), max(col("xd")).as("mx"))
        .select(col("pos"), col("n"),
          round(col("sx").cast("double") / col("n").cast("double"), 6).as("dim_mean"),
          round(col("sxx").cast("double") / col("n").cast("double") -
            (col("sx").cast("double") / col("n").cast("double")) *
            (col("sx").cast("double") / col("n").cast("double")), 6).as("dim_var"),
          round(col("mn"), 6).as("min_v"), round(col("mx"), 6).as("max_v"))
        .orderBy(col("pos"))
    },
    Some("""
      |WITH ex AS (
      |  SELECT u.pos AS pos, u.xd AS xd FROM (
      |    SELECT unnest(list_transform(range(len(v)), i ->
      |      {'pos': i, 'xd': v[i + 1]})) AS u
      |    FROM (SELECT embedding::DOUBLE[] AS v FROM embeddings)
      |  )
      |), g AS (
      |  SELECT pos, count(*) AS n,
      |         SUM(CAST(round(xd, 12) AS DECIMAL(38,12))) AS sx,
      |         SUM(CAST(round(xd * xd, 12) AS DECIMAL(38,12))) AS sxx,
      |         min(xd) AS mn, max(xd) AS mx
      |  FROM ex GROUP BY 1
      |)
      |SELECT pos::BIGINT AS pos, n::BIGINT AS n,
      |       round(CAST(sx AS DOUBLE) / n::DOUBLE, 6) AS dim_mean,
      |       round(CAST(sxx AS DOUBLE) / n::DOUBLE -
      |             (CAST(sx AS DOUBLE) / n::DOUBLE) * (CAST(sx AS DOUBLE) / n::DOUBLE), 6)
      |         AS dim_var,
      |       round(mn, 6) AS min_v, round(mx, 6) AS max_v
      |FROM g ORDER BY pos
      """.stripMargin.trim))

  val defs: Seq[QueryDef] =
    Seq(filtered, l2Search, batch, ragContext, ivf, lshProbe, nswBeam, hnswBeam,
      hnswRouted, filteredHnsw, costServing, costServing4, costServingBatch,
      costServingFiltered, costServingBatchFiltered, costServingCalibrated,
      nswRoutedBatch, ivfRule,
      lshRule, costRule, ivfKmeansRule, filteredIvfRule, mips, quantRescore, sqlApi,
      centroids, quantize, groupTopk, pqAdc, pqRescore, pqBatch, pqStoreAdc,
      matryoshka, ivfPqAdc, pqShapeAdaptive, pcaKnn, rpKnn, bqHamming, mmrDiversify, recallEval,
      ivfRecallEvalQ, quantError, dimStatsQ)
}
