package graft.queries

import graft.operators.{Ann, Knn, Nsw, Pq}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Serving-latency calibration probe (r19 verdict #6): measure each
  * index family's single-query serving wall time over the SAME stores
  * the `ann_cost_serving*` gates execute, divide by the byte totals
  * the four-way cost model prices, and print per-family
  * picoseconds-per-byte. BYTES-READ is a portable cost unit but not a
  * clock: a routed graph beam pays per-candidate random access and
  * per-shard job dispatch, while PQ's code scan is one pass keeping a
  * bounded ADC heap per task — their measured s/byte differ by an
  * order of magnitude, which is exactly what flips the calibrated decision
  * against the pure-bytes one on some legs
  * (`ann_cost_serving_calibrated` gates the flip; RECALL.md records
  * the measurements). Calibration is DATA, like an index's centroids —
  * re-run this main to re-derive it on new hardware:
  *
  *   tools/run_main.sh graft.queries.CalibrateServing /root/testdata/sf0.1 [reps]
  */
object CalibrateServing {

  private def timeNs(reps: Int)(body: => Unit): Long = {
    body; body // warm: footer cache, codegen, JIT
    val samples = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; System.nanoTime() - t0
    }.sorted
    samples(samples.length / 2)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(9)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.prepare(spark)

    val corpus = graft.Tables.embeddings(spark, dir)
    val q = QueryVectors.queryVec64
    val cents = Ann.seededCentroids(corpus, "embedding", "vec_id", nlist = 8)
    val planes = Ann.signPlanes(dim = 64, nBits = 8)
    val (path, clusterRows, bucketRows) =
      VectorQueries.HybridIndexStore.ensure(spark, dir, cents, planes)
    val indexed = Ann.readIndexed(spark, path)
    val p = VectorQueries.NswStore.params
    val routerCents = VectorQueries.NswRouterStore.ensure(spark, dir)
    val cb = VectorQueries.PqStore.ensure(spark, dir)
    val codes = Pq.readEncoded(spark, VectorQueries.PqCodeStore.ensure(spark, dir))

    import graft.plans.IvfProbeRule.{GraphBound, PqFamily, priceServing}
    val bytes = priceServing(Seq(q),
      graft.plans.IvfCatalog.IvfIndex(cents, 3, clusterRows),
      graft.plans.LshCatalog.LshIndex(planes, 2, bucketRows),
      GraphBound(p.nShards, VectorQueries.NswRouterStore.nprobe, p.efSearch),
      Some(PqFamily(clusterRows.values.sum, VectorQueries.PqStore.M, 16))).bytes
    val (ivfB, lshB, hnswB, pqB) = (bytes.ivf, bytes.lsh, bytes.hnsw, bytes.pq.get)

    val ivfNs = timeNs(reps) {
      val probes = Ann.probeIds(q, cents, nprobe = 3)
      Knn.search(indexed.filter(col("cluster_id").isin(probes: _*)),
        "embedding", "vec_id", q, k = 10).collect()
    }
    val lshNs = timeNs(reps) {
      val probes = Ann.probeBuckets(Ann.queryBucket(q, planes),
        planes.length, radius = 2)
      Knn.search(indexed.filter(col("lsh_bucket").isin(probes: _*)),
        "embedding", "vec_id", q, k = 10).collect()
    }
    // a serving index opens its graph exchange once; the warm-up reps
    // of timeNs pay that, the timed ones measure the routed request
    val opened = VectorQueries.NswStore.opened(spark, dir)
    val hnswNs = timeNs(reps) {
      val (res, _, _) = Nsw.routedBatchSearch(opened, "vec_id", Seq(0 -> q),
        k = 10, routerCents, VectorQueries.NswRouterStore.nprobe, p)
      res.collect()
    }
    val pqNs = timeNs(reps) {
      val sl = Pq.batchShortlist(codes, "vec_id", Seq(0 -> q), cb, 16)(0).map(_._2)
      Knn.search(corpus.filter(col("vec_id").isin(sl: _*)),
        "embedding", "vec_id", q, k = 10).collect()
    }

    def ps(ns: Long, bytes: Long): Long = ns * 1000L / math.max(bytes, 1L)
    println(s"""{"dir":"$dir","reps":$reps,""" +
      s""""ivf":{"ns":$ivfNs,"bytes":$ivfB,"ps_per_byte":${ps(ivfNs, ivfB)}},""" +
      s""""lsh":{"ns":$lshNs,"bytes":$lshB,"ps_per_byte":${ps(lshNs, lshB)}},""" +
      s""""hnsw":{"ns":$hnswNs,"bytes":$hnswB,"ps_per_byte":${ps(hnswNs, hnswB)}},""" +
      s""""pq":{"ns":$pqNs,"bytes":$pqB,"ps_per_byte":${ps(pqNs, pqB)}}}""")
    spark.stop()
  }
}
