package graft.queries

import graft.Tables
import graft.operators.Compact
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Driver-gate coverage for the maintenance operator: compaction was
  * spec-only (its file-level effects aren't SQL-expressible), but its
  * DATA FIDELITY is — the registered query reads a table that has been
  * fragmented and then compacted, and the oracle aggregates the
  * ORIGINAL fixture. A green row proves the rewrite is byte-faithful to
  * the row set through the driver's own hash gate, including an
  * order-independent md5 row-set checksum (not just sums, which
  * couldn't see a swapped pair of values).
  */
object MaintenanceQueries {

  /** One fragment→compact round trip per (sfDir, JVM): lineitem is
    * rewritten as 40 small files (the micro-batch-append pathology),
    * then `Compact.rewrite` collapses it with a range sort on
    * l_orderkey. The registered query reads the COMPACTED table.
    */
  private object CompactStore {
    def ensure(s: SparkSession, dir: String): String =
      TmpStores.memoizedTable("graft_compact_rt", dir) { root =>
        val table = s"$root/lineitem"
        Tables.lineitem(s, dir).repartition(40).write.parquet(table)
        val (before, after) = Compact.rewrite(s, table,
          targetFileBytes = 128L * 1024 * 1024, sortCols = Seq("l_orderkey"))
        require(after.files < before.files,
          s"compaction must reduce the file count: $before -> $after")
        table
      }
  }

  /** One layout migration per (sfDir, JVM): documents rewritten from a
    * flat table into a lang-partitioned directory tree (the layout
    * migration every warehouse eventually runs so per-language reads
    * become partition pruning — SourcesSpec proves the pruned-read
    * side; this store feeds the fidelity gate).
    */
  private object RepartitionStore {
    def ensure(s: SparkSession, dir: String): String =
      TmpStores.memoizedTable("graft_repart_docs", dir) { root =>
        val table = s"$root/documents"
        // one shuffle keyed on the partition column so each lang writes
        // its files contiguously (no small-file explosion per task)
        Tables.documents(s, dir).repartition(col("lang"))
          .write.partitionBy("lang").parquet(table)
        table
      }
  }

  private val repartitionLayout = QueryDef(
    "maint_repartition_layout",
    "Partition-layout migration fidelity gate: documents are rewritten " +
      "into a lang-partitioned tree (one shuffle keyed on the partition " +
      "column), and the MIGRATED table is aggregated per lang — counts, " +
      "char sums, and an order-independent md5 row-set checksum " +
      "(doc_id|source|md5(text) — the partition column itself round-" +
      "trips through directory names, which is exactly what the gate " +
      "must catch). Oracle aggregates the ORIGINAL fixture.",
    (s, dir) => {
      val table = RepartitionStore.ensure(s, dir)
      val rowKey = concat_ws("|",
        col("doc_id").cast("string"), col("source"), md5(col("text")))
      val h = conv(substring(md5(rowKey), 1, 12), 16, 10).cast("decimal(38,0)")
      s.read.parquet(table)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(h).cast("decimal(38,0)").cast("string").as("rowset_fp"))
        .orderBy(col("lang"))
    },
    Some("""
      |SELECT lang, count(*) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(CAST(SUM(CAST(('0x' || substring(md5(
      |         doc_id::VARCHAR || '|' || source || '|' || md5(text)), 1, 12))::BIGINT
      |         AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS rowset_fp
      |FROM documents
      |GROUP BY lang ORDER BY lang
      """.stripMargin.trim))

  private val compactRoundtrip = QueryDef(
    "maint_compact_roundtrip",
    "Small-file compaction data-fidelity gate: lineitem is fragmented " +
      "into 40 files, compacted (range-sorted on l_orderkey, atomic " +
      "swap), and the COMPACTED table is aggregated — row count, exact " +
      "decimal sums, key extrema, and an order-independent md5 row-set " +
      "checksum over the stable columns. The oracle computes the same " +
      "aggregates over the ORIGINAL fixture, so a green hash proves the " +
      "rewrite dropped, duplicated, and altered nothing.",
    (s, dir) => {
      val table = CompactStore.ensure(s, dir)
      val dec = org.apache.spark.sql.types.DecimalType(38, 6)
      // row fingerprint over columns with engine-stable string forms
      // (integers, flags, formatted timestamp — never raw doubles,
      // whose VARCHAR repr differs across engines)
      val rowKey = concat_ws("|",
        col("l_orderkey").cast("string"), col("l_linenumber").cast("string"),
        col("l_returnflag"), col("l_linestatus"),
        date_format(col("l_shipdate"), "yyyy-MM-dd"))
      val h = conv(substring(md5(rowKey), 1, 12), 16, 10).cast("decimal(38,0)")
      s.read.parquet(table)
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_extendedprice").cast(dec)).cast(org.apache.spark.sql.types.DecimalType(38, 2)).cast("double").as("sum_price"),
          sum(col("l_quantity").cast(dec)).cast(org.apache.spark.sql.types.DecimalType(38, 2)).cast("double").as("sum_qty"),
          min(col("l_orderkey")).as("min_key"), max(col("l_orderkey")).as("max_key"),
          sum(h).cast("decimal(38,0)").cast("string").as("rowset_fp"))
    },
    Some("""
      |SELECT count(*) AS n_rows,
      |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_price,
      |       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
      |       min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
      |       CAST(CAST(SUM(CAST(('0x' || substring(md5(
      |         l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR || '|' ||
      |         l_returnflag || '|' || l_linestatus || '|' ||
      |         strftime(l_shipdate, '%Y-%m-%d')), 1, 12))::BIGINT AS DECIMAL(38,0)))
      |         AS DECIMAL(38,0)) AS VARCHAR) AS rowset_fp
      |FROM lineitem
      """.stripMargin.trim))

  private val snapshotDiffQ = QueryDef(
    "cdc_snapshot_diff",
    "Snapshot diff (CDC / dataset versioning): orders v2 is derived " +
      "deterministically from v1 (keys ≡0 mod 97 removed; of the rest, " +
      "≡0 mod 101 get price+1.5 and a new priority; ≡0 mod 103 rows " +
      "re-added under shifted keys), and SnapshotDiff classifies every " +
      "key via ONE co-partitioned full-outer join with null-safe value " +
      "compare — no data-sized broadcast. The result aggregates per " +
      "change class; the oracle derives the expected classes from the " +
      "key arithmetic alone, so a green hash proves the structural diff " +
      "agrees with the ground-truth mutation rules.",
    (s, dir) => {
      import graft.operators.SnapshotDiff
      val v1 = Tables.orders(s, dir)
      val maxKey = lit(1000000000L) // static shift keeps added keys disjoint
      val kept = v1.filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
      val mutated = kept
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(101)) === 0, col("o_totalprice") + 1.5)
            .otherwise(col("o_totalprice")))
        .withColumn("o_orderpriority",
          when(pmod(col("o_orderkey"), lit(101)) === 0, lit("9-SYNTH"))
            .otherwise(col("o_orderpriority")))
      val added = kept.filter(pmod(col("o_orderkey"), lit(103)) === 0)
        .withColumn("o_orderkey", col("o_orderkey") + maxKey)
      val v2 = mutated.unionByName(added)
      SnapshotDiff.diff(v1, v2, Seq("o_orderkey"),
          Seq("o_totalprice", "o_orderstatus", "o_orderpriority"))
        .groupBy(col("change_type"))
        .agg(count(lit(1)).as("n"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
        .orderBy(col("change_type"))
    },
    Some("""
      |WITH classified AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 97 = 0 THEN 'removed'
      |              WHEN o_orderkey % 101 = 0 THEN 'changed'
      |              ELSE 'unchanged' END AS change_type
      |  FROM orders
      |), added AS (
      |  SELECT o_orderkey + 1000000000 AS o_orderkey, 'added' AS change_type
      |  FROM orders WHERE o_orderkey % 97 <> 0 AND o_orderkey % 103 = 0
      |), all_rows AS (
      |  SELECT * FROM classified UNION ALL SELECT * FROM added
      |)
      |SELECT change_type, count(*) AS n,
      |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |FROM all_rows GROUP BY change_type ORDER BY change_type
      """.stripMargin.trim))

  /** One z-order layout per (sfDir, JVM): lineitem rewritten as 16
    * parquet files clustered on the Morton curve of (l_partkey,
    * l_suppkey). The registered query reads the RELAID table.
    */
  private object ZOrderStore {
    def ensure(s: SparkSession, dir: String): String =
      TmpStores.memoizedTable("graft_zorder_rt", dir) { root =>
        import graft.operators.ZOrder
        val table = s"$root/lineitem_z"
        val st = ZOrder.layout(s, Tables.lineitem(s, dir),
          Seq("l_partkey", "l_suppkey"), table, nFiles = 16)
        require(st.files >= 1, s"z-order layout wrote no files at $table")
        table
      }
  }

  private val zorderRoundtrip = QueryDef(
    "maint_zorder_roundtrip",
    "Z-order layout data-fidelity gate: lineitem is relaid as 16 files " +
      "clustered on the Morton curve of (l_partkey, l_suppkey) — ONE " +
      "range shuffle, no collect, no broadcast — and the RELAID table " +
      "is aggregated: row count, exact decimal sum, extrema of both " +
      "curve dimensions, and an order-independent md5 row-set checksum " +
      "(fingerprinting the curve columns themselves). The oracle runs " +
      "the same aggregates on the ORIGINAL fixture, so a green hash " +
      "proves the multi-dimensional re-layout is a pure permutation. " +
      "Clustering quality (tight per-file min/max envelopes on BOTH " +
      "dims → parquet row-group skipping) is asserted in ZOrderSpec.",
    (s, dir) => {
      val table = ZOrderStore.ensure(s, dir)
      val dec = org.apache.spark.sql.types.DecimalType(38, 6)
      val rowKey = concat_ws("|",
        col("l_orderkey").cast("string"), col("l_linenumber").cast("string"),
        col("l_partkey").cast("string"), col("l_suppkey").cast("string"),
        col("l_returnflag"))
      val h = conv(substring(md5(rowKey), 1, 12), 16, 10).cast("decimal(38,0)")
      s.read.parquet(table)
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_extendedprice").cast(dec)).cast(org.apache.spark.sql.types.DecimalType(38, 2)).cast("double").as("sum_price"),
          min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
          min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"),
          sum(h).cast("decimal(38,0)").cast("string").as("rowset_fp"))
    },
    Some("""
      |SELECT count(*) AS n_rows,
      |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_price,
      |       min(l_partkey) AS min_part, max(l_partkey) AS max_part,
      |       min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp,
      |       CAST(CAST(SUM(CAST(('0x' || substring(md5(
      |         l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR || '|' ||
      |         l_partkey::VARCHAR || '|' || l_suppkey::VARCHAR || '|' ||
      |         l_returnflag), 1, 12))::BIGINT AS DECIMAL(38,0)))
      |         AS DECIMAL(38,0)) AS VARCHAR) AS rowset_fp
      |FROM lineitem
      """.stripMargin.trim))

  private val incrementalRollup = QueryDef(
    "maint_incremental_rollup",
    "Incremental aggregate maintenance (the materialized-view refresh " +
      "pattern): orders split into a base (19/20 of keys) and a delta " +
      "batch (keys ≡ 0 mod 20); per-priority algebraic partials (exact-" +
      "decimal sum / count / min / max) are computed per side and " +
      "MERGED — the base fact rows are never re-aggregated. The oracle " +
      "is the FULL recompute over all orders: a green hash proves " +
      "merge(partial(A), partial(B)) ≡ partial(A ∪ B) exactly, the " +
      "property that lets 100 TB rollups refresh by touching only " +
      "|keys| + |delta| rows.",
    (s, dir) => {
      import graft.operators.IncrementalAgg
      val ord = Tables.orders(s, dir)
      val base = ord.filter(col("o_orderkey") % 20 =!= 0)
      val delta = ord.filter(col("o_orderkey") % 20 === 0)
      val keys = Seq("o_orderpriority")
      val merged = IncrementalAgg.merge(
        Seq(IncrementalAgg.partials(base, keys, "o_totalprice"),
          IncrementalAgg.partials(delta, keys, "o_totalprice")), keys)
      merged.select(col("o_orderpriority"),
          col("p_sum").cast(org.apache.spark.sql.types.DecimalType(38, 2))
            .cast("double").as("total_price"),
          col("p_count").as("n_orders"),
          col("p_min").as("min_price"), col("p_max").as("max_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      |SELECT o_orderpriority,
      |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DECIMAL(38,2)) AS DOUBLE) AS total_price,
      |       count(*) AS n_orders,
      |       min(o_totalprice) AS min_price,
      |       max(o_totalprice) AS max_price
      |FROM orders
      |GROUP BY o_orderpriority ORDER BY o_orderpriority
      """.stripMargin.trim))

  /** One persisted HDR-bucket store per (sfDir, JVM): the histogram of
    * the HISTORICAL event partition (event_id % 10 < 8), written once —
    * the stored telemetry table an incremental refresh touches instead
    * of the raw history.
    */
  private object HdrStore {
    val K = 16
    def cents: org.apache.spark.sql.Column =
      (col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)) * 100)
        .cast("long") + lit(1L)
    def buckets(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      graft.operators.Sketches.hdrBuckets(df.withColumn("c", cents), "c", K)
        .groupBy(col("event_type"), col("hdr_bucket"), col("hdr_pow"),
          col("hdr_sub"))
        .agg(count(lit(1)).as("cnt"))
    def ensure(s: SparkSession, dir: String): String =
      TmpStores.memoizedTable("graft_hdr_store", dir) { root =>
        val table = s"$root/buckets"
        buckets(Tables.events(s, dir)
            .filter(pmod(col("event_id"), lit(10)) < 8))
          .write.parquet(table)
        table
      }
  }

  private val hdrRefresh = QueryDef(
    "maint_hdr_refresh",
    "Incremental HISTOGRAM maintenance — maint_incremental_rollup's " +
      "pattern applied to the mergeable HDR quantile sketch: the " +
      "historical partition's bucket table (≤ |types|·64·16 rows) is " +
      "PERSISTED once, and a refresh buckets ONLY the increment " +
      "(event_id % 10 ≥ 8 — 20% of events) and ADDS it to the stored " +
      "table; the raw history is never re-scanned. That is how " +
      "latency-percentile telemetry stays current at 100 TB: the " +
      "refresh cost is |increment| + the bounded bucket table, while " +
      "the full rebuild the gate carries as its yardstick re-reads " +
      "everything. The registered query walks the MERGED table for " +
      "p50/p90/p99 per event type and carries an exact bucket-table " +
      "equality flag (merged ≡ rebuilt checksums — counts merge by " +
      "addition, so equality is exact, not approximate). The oracle " +
      "replays the split, both bucket tables, the merge, the rebuild, " +
      "the checksums and the quantile walk from scratch in SQL. " +
      "Values ride the exact DECIMAL cents +1 channel (the " +
      "stream_hdr_quantiles zero-inclusive offset).",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val k = HdrStore.K
      val stored = s.read.parquet(HdrStore.ensure(s, dir))
      val inc = HdrStore.buckets(Tables.events(s, dir)
        .filter(pmod(col("event_id"), lit(10)) >= 8))
      val merged = stored.unionByName(inc)
        .groupBy(col("event_type"), col("hdr_bucket"), col("hdr_pow"), col("hdr_sub"))
        .agg(sum(col("cnt")).as("cnt"))
      val rebuilt = HdrStore.buckets(Tables.events(s, dir))
      def checksum(df: org.apache.spark.sql.DataFrame) = df.groupBy(col("event_type"))
        .agg(sum(col("hdr_bucket") * col("cnt")).as("wsum"),
          sum(col("cnt")).as("tsum"))
      val flags = checksum(merged).as("mc")
        .join(checksum(rebuilt).as("rc"), Seq("event_type"))
        .select(col("event_type"),
          when(col("mc.wsum") === col("rc.wsum") &&
            col("mc.tsum") === col("rc.tsum"), 1L).otherwise(0L)
            .as("refresh_matches_rebuild"))
      val wCum = Window.partitionBy(col("event_type")).orderBy(col("hdr_bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("event_type"))
      val withCum = merged
        .withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("n", sum(col("cnt")).over(wAll))
      val qDf = Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L))
        .toDF("q", "qnum", "qden")
      withCum.crossJoin(broadcast(qDf))
        .withColumn("target", expr("(n * qnum + qden - 1) div qden"))
        .filter(col("cum") >= col("target"))
        .groupBy(col("event_type"), col("q"))
        .agg(min(struct(col("hdr_bucket"), col("hdr_pow"), col("hdr_sub"),
          col("n"))).as("m"))
        .select(col("event_type"), col("q"), col("m.n").as("n"),
          round(col("m.hdr_pow") * (col("m.hdr_sub") * 2 + lit(2 * k + 1)) /
            lit((2 * k).toDouble) - lit(1.0), 4).as("est_cents"))
        .join(broadcast(flags), Seq("event_type"))
        .orderBy(col("event_type"), col("q"))
    },
    Some("""
      |WITH v AS (
      |  SELECT event_id, event_type,
      |         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) + 1 AS c
      |  FROM events
      |), b AS (
      |  SELECT event_id, event_type, c, (length(bin(c)) - 1) AS e,
      |         (1::BIGINT << (length(bin(c)) - 1)) AS pow
      |  FROM v
      |), allb AS (
      |  SELECT event_id, event_type,
      |         e::BIGINT * 16 + ((c - pow) * 16) // pow AS bucket,
      |         pow, ((c - pow) * 16) // pow AS sub
      |  FROM b
      |), stored AS (
      |  SELECT event_type, bucket, pow, sub, count(*) AS cnt
      |  FROM allb WHERE event_id % 10 < 8 GROUP BY 1, 2, 3, 4
      |), inc AS (
      |  SELECT event_type, bucket, pow, sub, count(*) AS cnt
      |  FROM allb WHERE event_id % 10 >= 8 GROUP BY 1, 2, 3, 4
      |), merged AS (
      |  SELECT event_type, bucket, pow, sub, sum(cnt) AS cnt FROM (
      |    SELECT * FROM stored UNION ALL SELECT * FROM inc
      |  ) GROUP BY 1, 2, 3, 4
      |), rebuilt AS (
      |  SELECT event_type, bucket, pow, sub, count(*) AS cnt
      |  FROM allb GROUP BY 1, 2, 3, 4
      |), flags AS (
      |  SELECT m.event_type,
      |         CASE WHEN m.wsum = r.wsum AND m.tsum = r.tsum
      |              THEN 1::BIGINT ELSE 0::BIGINT END AS refresh_matches_rebuild
      |  FROM (SELECT event_type, sum(bucket * cnt) AS wsum, sum(cnt) AS tsum
      |        FROM merged GROUP BY 1) m
      |  JOIN (SELECT event_type, sum(bucket * cnt) AS wsum, sum(cnt) AS tsum
      |        FROM rebuilt GROUP BY 1) r USING (event_type)
      |), cum AS (
      |  SELECT event_type, bucket, pow, sub, cnt,
      |         sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
      |                        ROWS UNBOUNDED PRECEDING) AS cum,
      |         sum(cnt) OVER (PARTITION BY event_type) AS n
      |  FROM merged
      |), qs AS (
      |  SELECT * FROM (VALUES ('p50', 1::BIGINT, 2::BIGINT),
      |                        ('p90', 9::BIGINT, 10::BIGINT),
      |                        ('p99', 99::BIGINT, 100::BIGINT)) t(q, qnum, qden)
      |), est AS (
      |  SELECT event_type, q, min(n) AS n,
      |         round(min_by(pow * (sub * 2 + 33), bucket) / 32.0 - 1.0, 4) AS est_cents
      |  FROM cum CROSS JOIN qs
      |  WHERE cum >= (n * qnum + qden - 1) // qden
      |  GROUP BY 1, 2
      |)
      |SELECT e.event_type, e.q, e.n::BIGINT AS n, e.est_cents,
      |       f.refresh_matches_rebuild
      |FROM est e JOIN flags f USING (event_type)
      |ORDER BY event_type, q
      """.stripMargin.trim))

  /** One incremental-append build per (sfDir, JVM): the IVF index is
    * built from the corpus MINUS an incoming batch (vec_id ≡ 0 mod 5),
    * then the batch alone is assigned against the SAME frozen centroids
    * and appended — `mode("append").partitionBy` writes only new files
    * into the matching cluster directories; the existing index files
    * are never read, rewritten, or touched. That is the refresh shape
    * that keeps a 100 TB ANN index current at O(|batch|) cost.
    */
  private object IvfAppendStore {
    val Nlist = 8
    def ensure(s: SparkSession, dir: String): String =
      TmpStores.memoizedTable("graft_ivf_append", dir) { root =>
        import graft.operators.Ann
        val table = s"$root/ivf"
        val emb = Tables.embeddings(s, dir)
        // centroids seeded from the FULL corpus's smallest ids, so the
        // frozen index geometry is independent of the base/batch split
        // (and SQL-recomputable for the oracle)
        val cents = Ann.seededCentroids(emb, "embedding", "vec_id", Nlist)
        Ann.writeIndexed(emb.filter(col("vec_id") % 5 =!= 0), "embedding",
          cents, table)
        Ann.assignClusters(emb.filter(col("vec_id") % 5 === 0), "embedding", cents)
          .write.mode("append").partitionBy("cluster_id").parquet(table)
        table
      }
  }

  private val ivfAppend = QueryDef(
    "maint_ivf_append",
    "Incremental ANN-index maintenance fidelity gate: the IVF store is " +
      "built WITHOUT the incoming batch (vec_id ≡ 0 mod 5), the batch " +
      "is assigned against the same frozen centroids and APPENDED " +
      "(new files into the matching cluster_id directories — existing " +
      "index data is never read or rewritten, so refresh cost is " +
      "O(|batch|), not O(|corpus|)). The appended store is aggregated " +
      "per cluster — counts, label sums, and an order-independent md5 " +
      "row-set checksum over vec_id — while the oracle assigns the " +
      "FULL corpus in SQL: a green hash proves incremental append ≡ " +
      "full rebuild, row for row.",
    (s, dir) => {
      val table = IvfAppendStore.ensure(s, dir)
      val h = conv(substring(md5(col("vec_id").cast("string")), 1, 12), 16, 10)
        .cast("decimal(38,0)")
      s.read.parquet(table)
        .groupBy(col("cluster_id").cast("long").as("cluster_id"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("label")).as("sum_label"),
          sum(h).cast("decimal(38,0)").cast("string").as("rowset_fp"))
        .orderBy(col("cluster_id"))
    },
    Some {
      val duckL2 = (a: String, b: String) =>
        s"sqrt(list_sum(list_transform(range(len($a)), i -> (($a)[i+1] - ($b)[i+1]) * (($a)[i+1] - ($b)[i+1]))))"
      s"""
      |WITH cents AS (
      |  SELECT vec_id AS cid, embedding::DOUBLE[] AS c FROM embeddings
      |  WHERE vec_id < ${IvfAppendStore.Nlist}
      |), assigned AS (
      |  SELECT vec_id, label, cid AS cluster_id FROM (
      |    SELECT e.vec_id, e.label, c.cid,
      |           row_number() OVER (PARTITION BY e.vec_id
      |                              ORDER BY ${duckL2("e.embedding::DOUBLE[]", "c.c")}, c.cid) AS rn
      |    FROM embeddings e CROSS JOIN cents c
      |  ) WHERE rn = 1
      |)
      |SELECT cluster_id, count(*) AS n_vecs,
      |       CAST(SUM(label) AS BIGINT) AS sum_label,
      |       CAST(CAST(SUM(CAST(('0x' || substring(md5(vec_id::VARCHAR), 1, 12))::BIGINT
      |         AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS rowset_fp
      |FROM assigned
      |GROUP BY cluster_id ORDER BY cluster_id
      """.stripMargin.trim
    })

  /** NSW graph store built WITHOUT the batch (vec_id ≢ 0 mod 5), then
    * the batch inserted incrementally through the SAME per-shard
    * insertion procedure as the initial build ([[graft.operators.Nsw
    * .appendToGraph]]) and the store rewritten. One build+append per
    * (fixture, JVM).
    */
  private object NswAppendStore {
    val params: graft.operators.Nsw.Params =
      graft.operators.Nsw.Params(nShards = 4, m = 8,
        efConstruction = 32, efSearch = 32)
    def ensure(s: SparkSession, dir: String): String =
      TmpStores.memoizedTable("graft_nsw_append", dir) { root =>
        import graft.operators.Nsw
        val table = s"$root/nsw"
        val emb = Tables.embeddings(s, dir)
        Nsw.writeGraph(Nsw.buildGraph(emb.filter(col("vec_id") % 5 =!= 0),
          "embedding", "vec_id", params), table)
        val appended = Nsw.appendToGraph(Nsw.readGraph(s, table),
          emb.filter(col("vec_id") % 5 === 0), "embedding", "vec_id", params)
        // stage into a sibling dir then swap: appendToGraph READS the
        // store being replaced, and overwriting a parquet dir that is
        // an input of the running plan truncates it mid-scan
        val staged = s"$root/nsw_appended"
        Nsw.writeGraph(appended, staged)
        staged
      }
  }

  private val nswAppend = QueryDef(
    "maint_nsw_append",
    "Incremental GRAPH-index maintenance fidelity gate (the NSW twin " +
      "of maint_ivf_append): the sharded small-world store is built " +
      "without the batch (vec_id ≡ 0 mod 5), then the batch inserts " +
      "into the persisted graphs through the same per-shard insertion " +
      "procedure as the initial build — compute O(|batch|·ef·log n), " +
      "never a corpus rebuild; backlinks retouch existing edge lists, " +
      "so touched shards rewrite (the write-amplification trade graph " +
      "stores pay where IVF appends files — documented in Nsw.scala). " +
      "The appended store aggregates per shard — counts and an order-" +
      "independent md5 row-set checksum over vec_id — while the oracle " +
      "derives shard membership of the FULL corpus from vec_id " +
      "arithmetic: a green hash proves the append lost, duplicated, " +
      "and misplaced nothing. Graph QUALITY after append (connectivity, " +
      "recall ≥ exact-rebuild band) and the appended edges themselves " +
      "(a golden fingerprint) are NswSpec's half of the contract.",
    (s, dir) => {
      val table = NswAppendStore.ensure(s, dir)
      val h = conv(substring(md5(col("vec_id").cast("string")), 1, 12), 16, 10)
        .cast(DecimalType(38, 0))
      graft.operators.Nsw.readGraph(s, table)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(h).cast(DecimalType(38, 0)).cast("string").as("rowset_fp"))
        .orderBy(col("shard"))
    },
    Some(s"""
      |SELECT CAST(vec_id % ${NswAppendStore.params.nShards} AS BIGINT) AS shard,
      |       count(*) AS n_vecs,
      |       CAST(CAST(SUM(CAST(('0x' || substring(md5(vec_id::VARCHAR), 1, 12))::BIGINT
      |         AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS rowset_fp
      |FROM embeddings
      |GROUP BY 1 ORDER BY shard
      """.stripMargin.trim))

  /** Layered store (cap [[graft.operators.Nsw.HnswMaxLevel]]) built
    * WITHOUT the newest id quarter, then the quarter appended through
    * [[graft.operators.Nsw.appendToGraph]]. A strictly-newer batch
    * replays exactly the tail of a full rebuild (levels are a pure
    * function of the id), so NswSpec asserts append ≡ rebuild
    * BYTE-FOR-BYTE; this gate covers membership fidelity of the
    * persisted store. One build+append per (fixture, JVM).
    */
  private object HnswAppendStore {
    val params: graft.operators.Nsw.Params =
      graft.operators.Nsw.Params(nShards = 4, m = 8,
        efConstruction = 32, efSearch = 32,
        maxLevel = graft.operators.Nsw.HnswMaxLevel)
    def ensure(s: SparkSession, dir: String): String =
      TmpStores.memoizedTable("graft_hnsw_append", dir) { root =>
        import graft.operators.Nsw
        val table = s"$root/hnsw"
        val emb = Tables.embeddings(s, dir)
        val cut = emb.agg(max(col("vec_id"))).first().getLong(0) / 4 * 3
        Nsw.writeGraph(Nsw.buildGraph(
          emb.filter(col("vec_id") < cut), "embedding", "vec_id", params), table)
        val appended = Nsw.appendToGraph(Nsw.readGraph(s, table),
          emb.filter(col("vec_id") >= cut), "embedding", "vec_id", params)
        // stage-then-swap: the append READS the store being replaced
        val staged = s"$root/hnsw_appended"
        Nsw.writeGraph(appended, staged)
        staged
      }
  }

  private val hnswAppend = QueryDef(
    "maint_hnsw_append",
    "Incremental LAYERED-graph-index maintenance gate (maint_nsw_append " +
      "at level cap 8): the layered store is built without the " +
      "newest id quarter, then the quarter inserts into the persisted " +
      "per-shard graphs through the one insertion procedure — and " +
      "because a node's LEVEL is a pure function of its id (the md5 " +
      "draw), a strictly-newer batch replays exactly the tail of a " +
      "full rebuild: NswSpec asserts append ≡ rebuild byte-for-byte, " +
      "layer stacks included, the strongest form of the append " +
      "contract (maint_nsw_append's interleaved batch inserts ids " +
      "below stored ones, so NswSpec pins its appended edges by a " +
      "golden fingerprint instead). This gate hashes per-shard counts + an " +
      "order-independent md5 row-set checksum of the appended store " +
      "against vec_id arithmetic over the full corpus: green proves " +
      "the append lost, duplicated, and misplaced nothing (levels and " +
      "layer stacks are covered by the spec's byte-identity, which is " +
      "stronger than any aggregate could be).",
    (s, dir) => {
      val table = HnswAppendStore.ensure(s, dir)
      val h = conv(substring(md5(col("vec_id").cast("string")), 1, 12), 16, 10)
        .cast(DecimalType(38, 0))
      graft.operators.Nsw.readGraph(s, table)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(h).cast(DecimalType(38, 0)).cast("string").as("rowset_fp"))
        .orderBy(col("shard"))
    },
    Some(s"""
      |SELECT CAST(vec_id % ${HnswAppendStore.params.nShards} AS BIGINT) AS shard,
      |       count(*) AS n_vecs,
      |       CAST(CAST(SUM(CAST(('0x' || substring(md5(vec_id::VARCHAR), 1, 12))::BIGINT
      |         AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS rowset_fp
      |FROM embeddings
      |GROUP BY 1 ORDER BY shard
      """.stripMargin.trim))

  /** Arrival-WINDOW-sharded NSW store: built without the newest window
    * (vec_id ≥ 3·ws withheld, ws = max(vec_id) div 4 + 1 — four equal
    * id-range windows at every SF), then the newest window appended via
    * [[graft.operators.Nsw.appendToGraphWindowed]], which rewrites ONLY
    * the touched shard directory. The three cold shard dirs keep their
    * exact bytes — NswSpec snapshots their file inventory across the
    * append and asserts it. One build+append per (fixture, JVM).
    */
  private object NswWindowStore {
    val params: graft.operators.Nsw.Params =
      graft.operators.Nsw.Params(nShards = 4, m = 8,
        efConstruction = 32, efSearch = 32)
    def windowSize(s: SparkSession, dir: String): Long =
      Tables.embeddings(s, dir).agg(max(col("vec_id"))).first().getLong(0) / 4 + 1
    def ensure(s: SparkSession, dir: String): String =
      TmpStores.memoizedTable("graft_nsw_window", dir) { root =>
        import graft.operators.Nsw
        val table = s"$root/nsw_w"
        val emb = Tables.embeddings(s, dir)
        val ws = windowSize(s, dir)
        Nsw.writeGraph(Nsw.buildGraphWindowed(
          emb.filter(col("vec_id") < 3 * ws), "embedding", "vec_id", ws, params), table)
        Nsw.appendToGraphWindowed(s, table,
          emb.filter(col("vec_id") >= 3 * ws), "embedding", "vec_id", ws, params)
        table
      }
  }

  private val nswWindowAppend = QueryDef(
    "maint_nsw_window_append",
    "Arrival-window-sharded NSW maintenance gate — the mitigation " +
      "maint_nsw_append documents, built: under hash sharding every " +
      "append touches every shard (whole-store rewrite), so the appendy " +
      "deployment shards by ARRIVAL WINDOW (shard = vec_id div ws, ids " +
      "arrive in order), the newest window's batch lands in one shard, " +
      "and Nsw.appendToGraphWindowed rewrites only that directory — " +
      "the store is read with a pushed shard IN-filter (static " +
      "partition pruning; cold shards are never opened) and refreshed " +
      "partitions stage-then-swap. Search fans over all shards " +
      "unchanged. The appended store aggregates per shard — counts, " +
      "id range, and an order-independent md5 row-set checksum — while " +
      "the oracle derives window membership of the FULL corpus from " +
      "vec_id div arithmetic: a green hash proves the one-shard " +
      "rewrite lost, duplicated, and misplaced nothing. Byte-identity " +
      "of the cold shard directories and append ≡ windowed-rebuild " +
      "graph equality are NswSpec's half of the contract.",
    (s, dir) => {
      val table = NswWindowStore.ensure(s, dir)
      val h = conv(substring(md5(col("vec_id").cast("string")), 1, 12), 16, 10)
        .cast(DecimalType(38, 0))
      graft.operators.Nsw.readGraph(s, table)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_vecs"),
          min(col("vec_id")).as("min_id"), max(col("vec_id")).as("max_id"),
          sum(h).cast(DecimalType(38, 0)).cast("string").as("rowset_fp"))
        .orderBy(col("shard"))
    },
    Some("""
      |WITH ws AS (SELECT (max(vec_id) // 4 + 1) AS w FROM embeddings)
      |SELECT CAST(vec_id // (SELECT w FROM ws) AS BIGINT) AS shard,
      |       count(*) AS n_vecs,
      |       min(vec_id) AS min_id, max(vec_id) AS max_id,
      |       CAST(CAST(SUM(CAST(('0x' || substring(md5(vec_id::VARCHAR), 1, 12))::BIGINT
      |         AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS rowset_fp
      |FROM embeddings
      |GROUP BY 1 ORDER BY shard
      """.stripMargin.trim))

  private val scd2Q = QueryDef(
    "cdc_scd2_history",
    "SCD Type-2 history build: three orders snapshots are derived " +
      "deterministically from the fixture (v2 re-prioritizes keys ≡ 0 " +
      "mod 7, v3 additionally closes keys ≡ 0 mod 11 — the v2 change " +
      "persists into v3, so both-class keys produce three intervals), " +
      "and Scd2.build folds them into validity intervals via ONE " +
      "key-partitioned shuffle (lag change-detect + lead interval-close " +
      "share the partitioning). The result aggregates per " +
      "(version_from, version_to) with an order-independent md5 row-set " +
      "checksum over the keys; the oracle enumerates the four " +
      "key-arithmetic classes and their expected interval patterns " +
      "directly, so a green hash proves the generic window-based " +
      "history builder reproduces the ground-truth change structure.",
    (s, dir) => {
      import graft.operators.Scd2
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
      val v2 = ord.withColumn("o_orderpriority",
        when(pmod(col("o_orderkey"), lit(7)) === 0, lit("P-SYNTH"))
          .otherwise(col("o_orderpriority")))
      val v3 = v2.withColumn("o_orderstatus",
        when(pmod(col("o_orderkey"), lit(11)) === 0, lit("Z"))
          .otherwise(col("o_orderstatus")))
      val hist = Scd2.build(Seq(1 -> ord, 2 -> v2, 3 -> v3),
        Seq("o_orderkey"), Seq("o_orderstatus", "o_orderpriority"))
      val h = conv(substring(md5(col("o_orderkey").cast("string")), 1, 12), 16, 10)
        .cast("decimal(38,0)")
      hist
        .withColumn("version_to", coalesce(col("version_to"), lit(9999)))
        .groupBy(col("version_from"), col("version_to"))
        .agg(count(lit(1)).as("n_keys"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"),
          sum(h).cast("decimal(38,0)").cast("string").as("rowset_fp"))
        .orderBy(col("version_from"), col("version_to"))
    },
    Some("""
      |WITH k AS (
      |  SELECT o_orderkey AS key,
      |         (o_orderkey % 7 = 0) AS c7, (o_orderkey % 11 = 0) AS c11
      |  FROM orders
      |), iv AS (
      |  SELECT key, 1 AS vf, CASE WHEN c7 THEN 1 WHEN c11 THEN 2 ELSE 9999 END AS vt FROM k
      |  UNION ALL
      |  SELECT key, 2, CASE WHEN c11 THEN 2 ELSE 9999 END FROM k WHERE c7
      |  UNION ALL
      |  SELECT key, 3, 9999 FROM k WHERE c11
      |)
      |SELECT vf AS version_from, vt AS version_to, count(*) AS n_keys,
      |       min(key) AS min_key, max(key) AS max_key,
      |       CAST(CAST(SUM(CAST(('0x' || substring(md5(key::VARCHAR), 1, 12))::BIGINT
      |         AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS rowset_fp
      |FROM iv GROUP BY 1, 2 ORDER BY 1, 2
      """.stripMargin.trim))

  /** One manifest→orphan-injection→vacuum cycle per (sfDir, JVM):
    * orders is written (8 files) and MANIFESTED; then a crashed
    * writer's leftovers are simulated by appending a duplicate subset
    * (keys ≡ 0 mod 10) that the manifest does NOT cover — a plain scan
    * now double-counts those rows — and Vacuum deletes exactly the
    * unmanifested files.
    */
  private object VacuumStore {
    def ensure(s: SparkSession, dir: String): String =
      TmpStores.memoizedTable("graft_vacuum_rt", dir) { root =>
        import graft.operators.Vacuum
        val table = s"$root/orders"
        val ord = Tables.orders(s, dir)
        ord.repartition(8).write.parquet(table)
        val committed = Vacuum.writeManifest(s, table)
        require(committed >= 8, s"expected >= 8 committed files, saw $committed")
        ord.filter(col("o_orderkey") % 10 === 0)
          .write.mode("append").parquet(table)
        val st = Vacuum.vacuum(s, table)
        require(st.deleted >= 1, s"vacuum must delete the injected orphans: $st")
        require(st.kept == committed, s"vacuum must keep the committed files: $st vs $committed")
        table
      }
  }

  private val vacuumQ = QueryDef(
    "maint_vacuum",
    "Manifest-based vacuum gate: orders is written and manifested, a " +
      "crashed writer's uncommitted append (duplicate rows for keys ≡ 0 " +
      "mod 10) is injected, and Vacuum deletes exactly the unmanifested " +
      "data files — pure file-metadata work, no data read. The " +
      "registered query plain-scans the vacuumed directory and " +
      "aggregates (count, exact decimal sum, key extrema, md5 row-set " +
      "checksum); the oracle aggregates the ORIGINAL fixture. A green " +
      "hash proves the scan no longer sees the orphan rows AND that " +
      "vacuum deleted nothing it shouldn't have.",
    (s, dir) => {
      val table = VacuumStore.ensure(s, dir)
      val dec = org.apache.spark.sql.types.DecimalType(38, 6)
      val h = conv(substring(md5(concat_ws("|",
        col("o_orderkey").cast("string"), col("o_orderpriority"))), 1, 12), 16, 10)
        .cast("decimal(38,0)")
      s.read.parquet(table)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast(dec)).cast(org.apache.spark.sql.types.DecimalType(38, 2)).cast("double").as("sum_price"),
          min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"),
          sum(h).cast("decimal(38,0)").cast("string").as("rowset_fp"))
    },
    Some("""
      |SELECT count(*) AS n_rows,
      |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_price,
      |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
      |       CAST(CAST(SUM(CAST(('0x' || substring(md5(
      |         o_orderkey::VARCHAR || '|' || o_orderpriority), 1, 12))::BIGINT
      |         AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS rowset_fp
      |FROM orders
      """.stripMargin.trim))

  /** One two-generation table per (sfDir, JVM): documents split by key
    * parity into a v1 write (3 columns) and a later v2 write that added
    * `source` / `n_chars` / a derived `quality_tier` — the schema-drift
    * shape every long-lived dataset accumulates.
    */
  private object EvolveStore {
    def ensure(s: SparkSession, dir: String): String =
      TmpStores.memoizedTable("graft_evolve_docs", dir) { root =>
        val table = s"$root/documents"
        val d = Tables.documents(s, dir)
        d.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("text"), col("lang"))
          .write.parquet(table)
        d.filter(col("doc_id") % 2 =!= 0)
          .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
          .withColumn("quality_tier", pmod(col("n_chars"), lit(5)).cast("int"))
          .write.mode("append").parquet(table)
        table
      }
  }

  private val evolveQ = QueryDef(
    "maint_schema_evolution",
    "Schema-evolution read gate: documents lands in two generations — " +
      "v1 with (doc_id, text, lang), v2 adding source / n_chars / a " +
      "derived quality_tier — and the query reads the directory with " +
      "mergeSchema=true, so v1 rows surface NULLs for the late columns. " +
      "Aggregates per lang (counts, null-aware sums, md5 row-set " +
      "checksum over the null-coalesced row image); the oracle emulates " +
      "the generation split from the original fixture with CASE on the " +
      "key parity. A green hash proves schema drift widens, never " +
      "corrupts: old rows keep their values, new columns are NULL " +
      "exactly where no writer produced them.",
    (s, dir) => {
      val table = EvolveStore.ensure(s, dir)
      val h = conv(substring(md5(concat_ws("|",
        col("doc_id").cast("string"), coalesce(col("source"), lit("-")),
        coalesce(col("quality_tier").cast("string"), lit("-")))), 1, 12), 16, 10)
        .cast("decimal(38,0)")
      s.read.option("mergeSchema", "true").parquet(table)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("source")).as("n_v2"),
          sum(col("n_chars")).as("sum_chars_v2"),
          sum(col("quality_tier")).as("sum_tier"),
          sum(h).cast("decimal(38,0)").cast("string").as("rowset_fp"))
        .orderBy(col("lang"))
    },
    Some("""
      |WITH g AS (
      |  SELECT doc_id, lang,
      |         CASE WHEN doc_id % 2 <> 0 THEN source END AS source,
      |         CASE WHEN doc_id % 2 <> 0 THEN n_chars END AS n_chars,
      |         CASE WHEN doc_id % 2 <> 0 THEN (n_chars % 5)::INT END AS quality_tier
      |  FROM documents
      |)
      |SELECT lang, count(*) AS n_docs, count(source) AS n_v2,
      |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars_v2,
      |       CAST(SUM(quality_tier) AS BIGINT) AS sum_tier,
      |       CAST(CAST(SUM(CAST(('0x' || substring(md5(
      |         doc_id::VARCHAR || '|' || COALESCE(source, '-') || '|' ||
      |         COALESCE(quality_tier::VARCHAR, '-')), 1, 12))::BIGINT
      |         AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS rowset_fp
      |FROM g GROUP BY lang ORDER BY lang
      """.stripMargin.trim))

  /** The deterministic orders change batch shared by the batch MERGE
    * gate and the streaming CDC-apply gate (single-builder rule):
    * updates for keys ≡ 0 mod 13 (minus the deletes), deletes for
    * ≡ 0 mod 17, inserts under +2e9-shifted keys for ≡ 0 mod 19.
    */
  private[queries] def orderChangeBatches(ord: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val k = col("o_orderkey")
    val updates = ord.filter(pmod(k, lit(13)) === 0 && pmod(k, lit(17)) =!= 0)
      .withColumn("o_orderpriority", lit("M-MERGED"))
      .withColumn("o_totalprice", col("o_totalprice") + 2.25)
      .withColumn("is_delete", lit(false))
    val deletes = ord.filter(pmod(k, lit(17)) === 0)
      .withColumn("is_delete", lit(true))
    val inserts = ord.filter(pmod(k, lit(19)) === 0)
      .select((k + 2000000000L).as("o_orderkey"),
        lit(1L).as("o_custkey"), lit("N").as("o_orderstatus"),
        lit(1000.5).as("o_totalprice"),
        lit("1999-01-01").cast("timestamp").as("o_orderdate"),
        lit("I-NEW").as("o_orderpriority"),
        lit(false).as("is_delete"))
    (updates, deletes, inserts)
  }

  /** Per-priority fidelity aggregate over a merged orders table —
    * shared by both MERGE gates.
    */
  private[queries] def mergedOrdersAgg(merged: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    val h = conv(substring(md5(concat_ws("|",
      col("o_orderkey").cast("string"), col("o_orderpriority"))), 1, 12), 16, 10)
      .cast("decimal(38,0)")
    merged.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(dec)).cast(org.apache.spark.sql.types.DecimalType(38, 2)).cast("double").as("total_price"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"),
        sum(h).cast("decimal(38,0)").cast("string").as("rowset_fp"))
      .orderBy(col("o_orderpriority"))
  }

  /** DuckDB mirror: applies the same three mutation classes
    * arithmetically and aggregates identically — shared by the batch
    * and streaming MERGE gates.
    */
  private[queries] val mergedOrdersOracleSql: String = """
    |WITH merged AS (
    |  SELECT o_orderkey AS key,
    |         CASE WHEN o_orderkey % 13 = 0 AND o_orderkey % 17 <> 0
    |              THEN 'M-MERGED' ELSE o_orderpriority END AS pri,
    |         CASE WHEN o_orderkey % 13 = 0 AND o_orderkey % 17 <> 0
    |              THEN o_totalprice + 2.25 ELSE o_totalprice END AS price
    |  FROM orders WHERE o_orderkey % 17 <> 0
    |  UNION ALL
    |  SELECT o_orderkey + 2000000000, 'I-NEW', 1000.5
    |  FROM orders WHERE o_orderkey % 19 = 0
    |)
    |SELECT pri AS o_orderpriority, count(*) AS n_orders,
    |       CAST(CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DECIMAL(38,2)) AS DOUBLE) AS total_price,
    |       min(key) AS min_key, max(key) AS max_key,
    |       CAST(CAST(SUM(CAST(('0x' || substring(md5(
    |         key::VARCHAR || '|' || pri), 1, 12))::BIGINT
    |         AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS rowset_fp
    |FROM merged GROUP BY pri ORDER BY pri
    """.stripMargin.trim

  private val mergeQ = QueryDef(
    "cdc_merge_into",
    "MERGE INTO (the CDC-apply step): a deterministic change batch — " +
      "updates for keys ≡ 0 mod 13 (new priority, price + 2.25), " +
      "deletes for keys ≡ 0 mod 17, inserts under shifted keys for ≡ 0 " +
      "mod 19 — applies onto orders via ONE co-partitioned full-outer " +
      "join + pure-projection resolution (no data-sized broadcast: the " +
      "source may be any fraction of the target). Aggregated per " +
      "priority with a key|priority row-set checksum; the oracle " +
      "applies the same mutation classes arithmetically. Completes the " +
      "CDC family: SnapshotDiff derives, Merge applies, Scd2 folds " +
      "history.",
    (s, dir) => {
      import graft.operators.Merge
      val ord = Tables.orders(s, dir)
      val (updates, deletes, inserts) = orderChangeBatches(ord)
      val source = updates.unionByName(deletes).unionByName(inserts)
      val merged = Merge(ord, source, Seq("o_orderkey"),
        updateCols = Seq("o_orderpriority", "o_totalprice"),
        deleteCondition = Some(col("is_delete")))
      mergedOrdersAgg(merged)
    },
    Some(mergedOrdersOracleSql))

  /** One merge-on-read store per (sfDir, JVM): the orders fixture as
    * the base file set plus two DELTA files — a delete set (keys ≡ 7
    * mod 10) and an update set (keys ≡ 3 mod 10, price bumped by an
    * exact decimal 1.00) — the Iceberg/Delta MoR layout an ingest
    * pipeline accumulates between compactions.
    */
  private object MorStore {
    def ensure(s: SparkSession, dir: String): (String, String, String) = {
      val root = TmpStores.memoizedTable("graft_mor_rt", dir) { root =>
        val dec = org.apache.spark.sql.types.DecimalType(12, 2)
        val base = Tables.orders(s, dir)
          .withColumn("o_totalprice", col("o_totalprice").cast(dec))
        base.write.parquet(s"$root/base")
        base.filter(col("o_orderkey") % 10 === 7)
          .select(col("o_orderkey")).write.parquet(s"$root/deletes")
        base.filter(col("o_orderkey") % 10 === 3)
          .withColumn("o_totalprice", col("o_totalprice") + lit(1).cast(dec))
          .write.parquet(s"$root/updates")
        root
      }
      (s"$root/base", s"$root/deletes", s"$root/updates")
    }
  }

  private val morMerge = QueryDef(
    "maint_mor_merge",
    "Merge-on-read READ PATH: the logical table is reconstructed at " +
      "query time from base + delta files — updates win via the " +
      "latest-wins upsert (one key shuffle, WindowGroupLimit-pruned), " +
      "deletes drop out via a broadcast-able anti-join on the key " +
      "sliver. The registered query aggregates the LOGICAL table " +
      "(counts, exact decimal revenue, an order-independent md5-48 " +
      "row-set checksum folding the price so an unapplied update " +
      "cannot hide); the oracle derives the same logical table " +
      "directly from the fixture with the same deterministic delete/" +
      "update rules — a green hash proves read-path merge ≡ the " +
      "copy-on-write result. Store build is one-time (bench warmup); " +
      "at 100 TB this is the between-compactions serving shape, with " +
      "maint_compact_roundtrip as the rewrite that retires the deltas.",
    (s, dir) => {
      val (basePath, delPath, updPath) = MorStore.ensure(s, dir)
      val base = s.read.parquet(basePath).withColumn("_commit", lit(0L))
      val updates = s.read.parquet(updPath).withColumn("_commit", lit(1L))
      val deletes = s.read.parquet(delPath)
      val logical = graft.operators.Upsert
        .latestWins(base, updates, Seq("o_orderkey"), "_commit")
        .join(deletes, Seq("o_orderkey"), "left_anti")
      val rowKey = concat_ws("|",
        col("o_orderkey").cast("string"), col("o_orderstatus"),
        col("o_orderpriority"), col("o_totalprice").cast("string"))
      val h = conv(substring(md5(rowKey), 1, 12), 16, 10).cast("decimal(38,0)")
      logical.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(38, 6)))
            .cast(org.apache.spark.sql.types.DecimalType(38, 2)).cast("double")
            .as("sum_price"),
          sum(h).cast("decimal(38,0)").cast("string").as("rowset_fp"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""
      |WITH logical AS (
      |  SELECT o_orderkey, o_orderstatus, o_orderpriority,
      |         CASE WHEN o_orderkey % 10 = 3
      |              THEN CAST(o_totalprice AS DECIMAL(12,2)) + CAST(1 AS DECIMAL(12,2))
      |              ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 10 <> 7
      |)
      |SELECT o_orderstatus, count(*) AS n_rows,
      |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_price,
      |       CAST(CAST(SUM(CAST(('0x' || substring(md5(
      |         o_orderkey::VARCHAR || '|' || o_orderstatus || '|' ||
      |         o_orderpriority || '|' || o_totalprice::VARCHAR), 1, 12))::BIGINT
      |         AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS rowset_fp
      |FROM logical GROUP BY 1 ORDER BY o_orderstatus
      """.stripMargin.trim))

  /** One versioned-table build per (fixture, JVM): v1 = the even
    * doc_ids, v2 = v1 + the odd batch appended through a second commit.
    */
  private object TimeTravelStore {
    def ensure(s: SparkSession, dir: String): String =
      TmpStores.memoizedTable("graft_ttravel", dir) { root =>
        val path = s"$root/table"
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        graft.operators.TimeTravel.commitAppend(s, path,
          docs.filter(col("doc_id") % 2 === 0))
        graft.operators.TimeTravel.commitAppend(s, path,
          docs.filter(col("doc_id") % 2 =!= 0))
        path
      }
  }

  private val timeTravelQ = QueryDef(
    "maint_time_travel",
    "Snapshot-isolated time travel over a manifest-versioned table " +
      "(operators.TimeTravel — the Iceberg/Delta core mechanic at " +
      "operator size): v1 commits the even doc_ids, v2 appends the " +
      "odd ones, and the query reads BOTH versions back AFTER the " +
      "second commit — read-as-of(1) must still be exactly the even " +
      "half, because a version's file set is frozen in its manifest " +
      "and data files are immutable (readers never list directories, " +
      "so later commits are invisible to them: snapshot isolation " +
      "without locks). Each version reports row count + the " +
      "order-independent additive md5-48 row-set checksum (the " +
      "dq_table_fingerprint channel), so row loss, duplication, or " +
      "content corruption in either snapshot moves the hash. The " +
      "oracle recomputes both snapshots' fingerprints from the raw " +
      "fixture: green = the versioned store round-tripped BOTH " +
      "snapshots losslessly. Commit point = one manifest rename " +
      "(crash before it leaves the previous version intact — " +
      "TimeTravelSpec); at 100 TB this layout is why a decade-lived " +
      "corpus can serve reproducible historical data mixes.",
    (s, dir) => {
      val path = TimeTravelStore.ensure(s, dir)
      def snap(v: Int) = {
        val rowKey = concat_ws("|",
          coalesce(col("doc_id").cast("string"), lit("\u0001")),
          coalesce(md5(col("text")), lit("\u0001")))
        graft.operators.TimeTravel.readAsOf(s, path, v)
          .select(conv(substring(md5(rowKey), 1, 12), 16, 10)
            .cast(DecimalType(38, 0)).as("h"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("h")).cast(DecimalType(38, 0)).cast("string").as("rowset_fp"))
          .select(lit(v).as("version"), col("n_rows"), col("rowset_fp"))
      }
      snap(1).union(snap(2)).orderBy(col("version"))
    },
    Some("""
      |WITH fp AS (
      |  SELECT doc_id,
      |         ('0x' || substring(md5(
      |            coalesce(doc_id::VARCHAR, chr(1)) || '|' ||
      |            coalesce(md5(text), chr(1))), 1, 12))::BIGINT AS h
      |  FROM documents
      |), v1 AS (
      |  SELECT 1 AS version, count(*)::BIGINT AS n_rows,
      |         CAST(CAST(SUM(CAST(h AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS rowset_fp
      |  FROM fp WHERE doc_id % 2 = 0
      |), v2 AS (
      |  SELECT 2 AS version, count(*)::BIGINT AS n_rows,
      |         CAST(CAST(SUM(CAST(h AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS rowset_fp
      |  FROM fp
      |)
      |SELECT version, n_rows, rowset_fp FROM v1
      |UNION ALL
      |SELECT version, n_rows, rowset_fp FROM v2
      |ORDER BY version
      """.stripMargin.trim))

  private val analyzeStats = QueryDef(
    "maint_analyze_stats",
    "ANALYZE-style table statistics collection — the maintenance pass " +
      "that feeds a cost-based optimizer (Spark CBO's `ANALYZE TABLE … " +
      "COMPUTE STATISTICS FOR COLUMNS`, re-expressed as a query so the " +
      "stats themselves sit under the hash gate): per column of " +
      "lineitem, row count, non-null count, exact NDV, and min/max, " +
      "all from ONE scan — Spark expands the multi-column DISTINCT " +
      "into a single grouped aggregate (one shuffle, map-side " +
      "partials), and the 1-row wide result unpivots to the long " +
      "(column_name, stats) catalog shape via stack(). Min/max are " +
      "serialized through DECIMAL(18,2)/date_format so both engines " +
      "print identical strings (the established temporal/decimal " +
      "channel). At 100 TB the exact NDV legs flip to " +
      "approx_count_distinct (HLL±2%, no expand) and the scan piggy-" +
      "backs on a maintenance rewrite — the plan shape (single pass, " +
      "O(columns) output) is the part that must survive scale.",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val wide = li.agg(
        count(lit(1)).as("n_rows"),
        count(col("l_quantity")).as("nn_qty"),
        countDistinct(col("l_quantity")).as("nd_qty"),
        min(col("l_quantity")).as("mn_qty"), max(col("l_quantity")).as("mx_qty"),
        count(col("l_extendedprice")).as("nn_price"),
        countDistinct(col("l_extendedprice")).as("nd_price"),
        min(col("l_extendedprice")).as("mn_price"), max(col("l_extendedprice")).as("mx_price"),
        count(col("l_discount")).as("nn_disc"),
        countDistinct(col("l_discount")).as("nd_disc"),
        min(col("l_discount")).as("mn_disc"), max(col("l_discount")).as("mx_disc"),
        count(col("l_returnflag")).as("nn_flag"),
        countDistinct(col("l_returnflag")).as("nd_flag"),
        // min/max over a STRING buffer is not hash-aggregable — one
        // string leg demotes the WHOLE Expand aggregate to
        // SortAggregate (measured 7.9 s vs 1.6 s at sf0.1: the sort is
        // over the 5×-expanded rows). The flag is a single char, so
        // aggregate its codepoint (fixed-width int buffer) and decode
        // after — the plan stays HashAggregate end to end.
        min(ascii(col("l_returnflag"))).as("mn_flag"),
        max(ascii(col("l_returnflag"))).as("mx_flag"),
        count(col("l_shipdate")).as("nn_ship"),
        countDistinct(col("l_shipdate")).as("nd_ship"),
        min(col("l_shipdate")).as("mn_ship"), max(col("l_shipdate")).as("mx_ship"))
      val d2s = (c: String) => s"cast(cast($c as decimal(18,2)) as string)"
      val t2s = (c: String) => s"date_format($c, 'yyyy-MM-dd HH:mm:ss')"
      wide.select(col("n_rows"), expr(s"""stack(5,
        'l_quantity',      nn_qty,   nd_qty,   ${d2s("mn_qty")},   ${d2s("mx_qty")},
        'l_extendedprice', nn_price, nd_price, ${d2s("mn_price")}, ${d2s("mx_price")},
        'l_discount',      nn_disc,  nd_disc,  ${d2s("mn_disc")},  ${d2s("mx_disc")},
        'l_returnflag',    nn_flag,  nd_flag,  char(mn_flag),      char(mx_flag),
        'l_shipdate',      nn_ship,  nd_ship,  ${t2s("mn_ship")},  ${t2s("mx_ship")}
        ) as (column_name, n_nonnull, n_distinct, min_str, max_str)"""))
        .select(col("column_name"), col("n_rows"),
          (col("n_rows") - col("n_nonnull")).as("n_null"),
          col("n_distinct"), col("min_str"), col("max_str"))
        .orderBy(col("column_name"))
    },
    Some("""
      |WITH w AS (
      |  SELECT count(*) AS n_rows,
      |         count(l_quantity) AS nn_qty, count(DISTINCT l_quantity) AS nd_qty,
      |         (min(l_quantity)::DECIMAL(18,2))::VARCHAR AS mn_qty,
      |         (max(l_quantity)::DECIMAL(18,2))::VARCHAR AS mx_qty,
      |         count(l_extendedprice) AS nn_price, count(DISTINCT l_extendedprice) AS nd_price,
      |         (min(l_extendedprice)::DECIMAL(18,2))::VARCHAR AS mn_price,
      |         (max(l_extendedprice)::DECIMAL(18,2))::VARCHAR AS mx_price,
      |         count(l_discount) AS nn_disc, count(DISTINCT l_discount) AS nd_disc,
      |         (min(l_discount)::DECIMAL(18,2))::VARCHAR AS mn_disc,
      |         (max(l_discount)::DECIMAL(18,2))::VARCHAR AS mx_disc,
      |         count(l_returnflag) AS nn_flag, count(DISTINCT l_returnflag) AS nd_flag,
      |         min(l_returnflag) AS mn_flag, max(l_returnflag) AS mx_flag,
      |         count(l_shipdate) AS nn_ship, count(DISTINCT l_shipdate) AS nd_ship,
      |         strftime(min(l_shipdate)::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS mn_ship,
      |         strftime(max(l_shipdate)::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS mx_ship
      |  FROM lineitem
      |), long AS (
      |  SELECT 'l_quantity' AS column_name, n_rows, n_rows - nn_qty AS n_null,
      |         nd_qty AS n_distinct, mn_qty AS min_str, mx_qty AS max_str FROM w
      |  UNION ALL
      |  SELECT 'l_extendedprice', n_rows, n_rows - nn_price, nd_price, mn_price, mx_price FROM w
      |  UNION ALL
      |  SELECT 'l_discount', n_rows, n_rows - nn_disc, nd_disc, mn_disc, mx_disc FROM w
      |  UNION ALL
      |  SELECT 'l_returnflag', n_rows, n_rows - nn_flag, nd_flag, mn_flag, mx_flag FROM w
      |  UNION ALL
      |  SELECT 'l_shipdate', n_rows, n_rows - nn_ship, nd_ship, mn_ship, mx_ship FROM w
      |)
      |SELECT column_name, n_rows::BIGINT AS n_rows, n_null::BIGINT AS n_null,
      |       n_distinct::BIGINT AS n_distinct, min_str, max_str
      |FROM long ORDER BY column_name
      """.stripMargin.trim))

  val defs: Seq[QueryDef] =
    Seq(compactRoundtrip, repartitionLayout, snapshotDiffQ, zorderRoundtrip,
      incrementalRollup, hdrRefresh, ivfAppend, nswAppend, hnswAppend, nswWindowAppend, scd2Q, vacuumQ,
      evolveQ, mergeQ, morMerge, timeTravelQ, analyzeStats)
}
