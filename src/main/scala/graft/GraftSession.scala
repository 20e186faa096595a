package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session bootstrap + fixture-table loading shared by Verify / Bench /
  * tests.
  *
  * Scale notes (designed for a real cluster, tested on local[N]):
  *   - `spark.sql.shuffle.partitions` is set by the caller to match the
  *     local core count; on a cluster AQE coalesces post-shuffle
  *     partitions anyway (`spark.sql.adaptive.enabled=true`).
  *   - All fixture reads are plain parquet scans so Catalyst's column
  *     pruning / predicate pushdown apply (verify via
  *     `.explain("formatted")` → `PushedFilters`, `ReadSchema`).
  */
object GraftSession {

  /** Apply engine-required runtime confs + register graft SQL functions.
    * Idempotent; safe to call on a driver-provided session.
    */
  def prepare(spark: SparkSession): SparkSession = {
    // The driver's `events` fixture is parquet TIMESTAMP(NANOS,false),
    // which Spark refuses by default (PARQUET_TYPE_ILLEGAL). Read the
    // raw int64 nanos and convert explicitly (see Tables.events).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // Scan-parallelism floor (optimization guide §6, r21; BOUNDED r22):
    // FilePartition sizing is maxSplitBytes = min(maxPartitionBytes,
    // max(openCostInBytes, totalBytes/minPartitionNum)) — with the 4 MB
    // openCost default a single ~10 MB fixture file scans as ~3 tasks no
    // matter how many cores the session has, and every expression-heavy
    // pass over it runs at 3/32 parallelism (measured r21: ml_logreg_gd's
    // GD corpus pass). r21 dropped the floor to 128 KiB; the r21 VERDICT
    // measured that flat 128 KiB floor anti-scaling at local[32] on the
    // driver host (dedup_ngram_containment 2.2 s → 19.0 s at 32 cores,
    // 2.2 s at 8 — sub-MB split confetti on the small single-file
    // fixtures), so r22 BOUNDS it at 768 KiB. Why 768 KiB and not the
    // VERDICT's suggested 1-4 MB: measured on the 32-core bench host,
    // any floor ≥ 1 MiB collapses the ~0.8 MB embeddings file to ONE
    // split and the expression-heavy on-the-fly PQ encode+ADC pass that
    // ann_pq_adc and ann_pq_batch run goes single-threaded (measured on
    // r22's batch-PQ gate over that pass: 2.2 s → 4.1 s, a new ×1.9
    // regression), while at 768 KiB the ~0.6 MB documents file scans as
    // EXACTLY ONE split — bit-identical scan layout to the r20 4 MB
    // default for the whole driver-regressed dedup/mm/txt family — and
    // embeddings (2 splits) / lineitem (15 splits) keep their
    // parallelism (ml_logreg_gd 1.6 s, dedup_ngram_containment 1.9 s at
    // 32 AND 8 cores; sweep table in OPTIMIZATION_r22.md). Scale
    // posture unchanged: on a real many-file 100 TB table splits are
    // governed by maxPartitionBytes (128 MB) long before either floor —
    // this knob only exists for the totalBytes < cores·openCost band,
    // i.e. tiny tables. Env-overridable either direction.
    spark.conf.set("spark.sql.files.openCostInBytes",
      sys.env.getOrElse("SPARK_GRAFT_OPEN_COST", (768 * 1024).toString))
    // Deferred global knobs (r21 "deliberately left alone", r22 VERDICT
    // #7), each tried behind the same env-override pattern so a cluster
    // deployment can flip them without a rebuild; defaults are measured
    // choices, not omissions (OPTIMIZATION_r22.md):
    //   - preferSortMergeJoin=false lets the planner pick shuffled-hash
    //     where its size conditions hold (guide §3.1). Measured r22:
    //     the 336-plan audit found 9 queries flip SMJ→SHJ, and every
    //     one got SLOWER at the bench SF (txt_textrank 3.1→6.8 s,
    //     graph_ppr_parts 2.4→4.1 s, geomean ~0.75x of default) — so
    //     the default stays Spark's; the env var documents the knob
    //     for cluster workloads where SHJ's no-sort wins.
    //   - shuffle codec (SPARK_GRAFT_IO_CODEC, honored in [[local]]'s
    //     builder — it is a core conf, fixed at context creation): zstd
    //     trades CPU for ratio (guide §2.3) — unmeasurable at sf0.1
    //     shuffle volumes, deployment-layer choice.
    sys.env.get("SPARK_GRAFT_PREFER_SMJ").foreach(v =>
      spark.conf.set("spark.sql.join.preferSortMergeJoin", v))
    functions.VectorFunctions.registerAll(spark)
    // KNN→IVF-probe rewrite for IvfCatalog-registered tables (no-op on
    // everything else); extraOptimizations covers driver-provided
    // sessions that weren't built withExtensions(GraftExtensions)
    if (!spark.experimental.extraOptimizations.contains(plans.IvfProbeRule)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ plans.IvfProbeRule
    }
    spark
  }

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      // core conf — must be fixed at context creation (see prepare's
      // deferred-knobs note); default lz4, zstd for cluster shuffles
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    prepare(spark)
  }
}

/** Typed access to the driver-generated fixture tables
  * (`/root/testdata/sf*`; schemas in FIXTURES.md).
  */
object Tables {
  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = read(s, d, "documents")

  /** `documents` spread across the default parallelism. The fixture is a
    * single small parquet file (one row-group → one input partition); the
    * text pipelines do heavy per-row expression work, so a round-robin
    * repartition of a few MB buys full-core parallelism. On a real
    * many-file 100 TB corpus the scan already yields thousands of
    * partitions and this is unnecessary — it guards the small-file case.
    */
  def documentsSpread(s: SparkSession, d: String): DataFrame =
    // hash on the key, not round-robin: RoundRobinPartitioning sorts
    // every input partition first (sortBeforeRepartition, for retry
    // determinism) — a full-row sort of the text column for nothing
    documents(s, d).repartition(s.sparkContext.defaultParallelism, col("doc_id"))
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")

  /** `events` with `ts` as a microsecond TIMESTAMP (UTC session TZ).
    *
    * Fixture generations have stored `ts` two ways: nanosecond INT64
    * (which Spark's vectorized reader only surfaces as a raw long via
    * `legacy.parquet.nanosAsLong` — floor-truncated here to micros) and
    * plain microsecond TIMESTAMP (read as NTZ, normalized to the UTC
    * session TZ). tools/local_check.py branches on `typeof(ts)` the
    * same way, so both engines see identical µs instants either way.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = read(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, NOT `/`: ns values ~1.7e18 exceed double's exact
        // integer range; a double division silently loses microseconds
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        // NTZ micros; session TZ is pinned UTC, so the cast re-types the
        // same wall-clock instant without shifting it
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  /** `events` with raw nanosecond `ts` (long) for exact-ns arithmetic. */
  def eventsRawNanos(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = read(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ =>
        // µs fixture: synthesize exact nanos (µs × 1000 stays < 2^63)
        df.withColumn("ts",
          unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)) * lit(1000L))
    }
  }
}
