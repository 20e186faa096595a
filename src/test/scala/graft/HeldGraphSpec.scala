package graft.queries

import graft.{GraftSession, JobCounter, SparkSpec}
import org.apache.spark.sql.Row

/** The registered graph queries search a graph store's shard exchange
  * that [[VectorQueries.GraphStore.opened]] holds per fixture: only the
  * first search of a store runs the exchange.
  */
class HeldGraphSpec extends SparkSpec {

  test("held exchange: a second ann_hnsw_routed run in one JVM skips the exchange's map stage and returns identical rows") {
    // a fixture directory of its own, so that no other suite has opened
    // its graph store in this JVM
    val dir = java.nio.file.Files.createTempDirectory("graft_held_exchange").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf("sf0.001"), "embeddings.parquet"),
      java.nio.file.Paths.get(dir, "embeddings.parquet"))
    GraftSession.prepare(spark)
    // the store and its router are built before counting, so the two
    // runs differ only in whether the exchange is already held
    VectorQueries.HnswRouterStore.ensure(spark, dir)
    val routedQuery = Queries.queriesMap("ann_hnsw_routed")
    val counter = new JobCounter(spark)
    try {
      def run(): (Seq[Row], (Int, Int)) = {
        counter.reset()
        val rows = routedQuery(spark, dir).collect().toSeq
        (rows, counter.settle())
      }
      val (first, (firstJobs, firstStages)) = run()
      val (second, (secondJobs, secondStages)) = run()
      assert(first.length == 10 && second == first)
      // the first run reads the store and runs the exchange; the second
      // searches the held exchange (its map stage skipped)
      assert(secondStages < firstStages && secondJobs < firstJobs,
        s"first run ($firstJobs jobs, $firstStages stages), second ($secondJobs, $secondStages)")
    } finally {
      counter.close()
      new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    }
  }
}
