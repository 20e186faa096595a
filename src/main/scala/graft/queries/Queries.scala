package graft.queries

import graft.{GraftSession, Tables}
import graft.operators.Knn
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One registered engine query: the Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle query
  * over the same parquet fixtures — the driver's t2 correctness gate.
  *
  * Oracle-parity rules (SURVEY §5/§7.3):
  *   - every ordered output sorts by (metric, unique key);
  *   - double aggregation goes through DECIMAL(38,6) per-row casts (exact,
  *     order-independent summation in both engines), is REDUCED to scale 2
  *     (lossless — every summand has ≤2 decimals), then cast to DOUBLE: a
  *     scale-6 sum > ~9e9 exceeds 2^53 in fixed-point units and the two
  *     engines' decimal→double conversions round differently (DuckDB
  *     converts the int128 then divides — double rounding; Spark rounds
  *     once via BigDecimal), measured as a 3e-6 q1 mismatch at sf1;
  *   - distances are computed in Double with sequential accumulation and
  *     rounded to 6 decimals before ordering;
  *   - temporal outputs are serialized to ISO strings (parquet µs-UTC vs
  *     DuckDB naive timestamps would otherwise diverge in the compare);
  *   - column names match exactly between the Spark result and the SQL.
  */
final case class QueryDef(
    name: String,
    doc: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    oracleLate: Option[() => Option[String]] = None) {

  /** Oracle SQL resolved at DUMP time. `SparkEntry.oracleSql` is read
    * AFTER every query has run (Verify runs the queries first, then
    * writes `oracle_sql.json`), so `oracleLate` can embed state computed
    * DURING the run — e.g. fitted KMeans centroid literals that don't
    * exist before a SparkSession does. The thunk returning None (query
    * never ran / crashed) degrades to the rows-only gate for exactly the
    * runs where the hash row would have been absent anyway.
    */
  def oracleNow: Option[String] = oracleLate.flatMap(_()).orElse(oracle)

  /** Whether this query is oracle-gated (for the catalog doc — must not
    * force the late thunk outside a dump).
    */
  def oracleGated: Boolean = oracle.isDefined || oracleLate.isDefined
}

object Queries {

  /** SUM over doubles with exact decimal accumulation (order-independent —
    * safe to hash-compare against DuckDB), surfaced back as DOUBLE.
    */
  private[queries] def dsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(DecimalType(38, 6))).cast(DecimalType(38, 2)).cast("double")

  /** Exact decimal TPC-H money arithmetic, shared by every revenue-style
    * aggregate. Casting the PRODUCT of double factors to decimal is not
    * cross-engine-stable: Spark's double→decimal goes through the
    * shortest string repr (then HALF_UP) while DuckDB's rounding is
    * path- and value-dependent (its constant-folding and vectorized
    * executor paths disagree with each other — probed in
    * tools/proto_parity.py), and for an arbitrary product double the two
    * engines disagree ~1e-7 of rows — invisible at sf0.01, a hash
    * mismatch by sf1 (measured: q1 sum_charge off by 3e-6 over 6.7 M
    * rows). Casting
    * each 2-decimal FACTOR first is unambiguous (the double sits ~1e-11
    * from the grid, the boundary is 5e-3 away), and everything after is
    * exact decimal arithmetic with identical results in both engines at
    * ANY scale. Widths stay narrow (price (12,2), rates (4,2)) so
    * neither engine's product-type rules hit the 38-digit cap.
    */
  private[queries] object Money {
    val price: DecimalType = DecimalType(12, 2)
    val rate: DecimalType = DecimalType(4, 2)
    import org.apache.spark.sql.Column
    def discFactor: Column = lit(1).cast(rate) - col("l_discount").cast(rate)
    def taxFactor: Column = lit(1).cast(rate) + col("l_tax").cast(rate)
    def discPrice: Column = col("l_extendedprice").cast(price) * discFactor
    def charge: Column = discPrice * taxFactor
    def discount: Column = col("l_extendedprice").cast(price) * col("l_discount").cast(rate)

    val sqlDiscFactor = "(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"
    val sqlTaxFactor = "(CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))"
    val sqlDiscPrice = s"CAST(l_extendedprice AS DECIMAL(12,2)) * $sqlDiscFactor"
    val sqlCharge = s"$sqlDiscPrice * $sqlTaxFactor"
    val sqlDiscount = "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))"
  }

  /** SUM of an already-exact decimal PRODUCT expression, surfaced as a
    * cents-TRUNCATED double. Product summands carry 4-6 exact decimals,
    * so any scale-reduction rounds — and the engines disagree on HOW:
    * Spark decimal casts round HALF_UP, DuckDB 1.0 TRUNCATES toward
    * zero (probed in tools/proto_parity.py; first measured as ±0.01 on
    * 5/6 q1 rows). FLOOR is mode-free: floor(sum·100) is the same exact
    * integer in both engines, fits 2^53 for sums up to ~9e13, and
    * converts to double exactly. FloatParitySpec property-tests this.
    */
  private[queries] def xsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(sum(c) * 100).cast("double") / lit(100.0)

  /** DuckDB mirror of [[xsum]]. */
  private[queries] def duckXsum(expr: String): String =
    s"CAST(FLOOR(SUM($expr) * 100) AS DOUBLE) / 100.0"

  /** Exact decimal literal of a float32 value — single source of truth
    * in [[Duck.vecLit]] (parses to the identical double in DuckDB;
    * shortest-float repr would NOT).
    */
  private def vecLit(v: Array[Float]): String = Duck.vecLit(v)

  /** DuckDB cosine-distance SQL fragment matching [[graft.functions.CosineDistance]]
    * bit-for-bit — delegates to the single [[Duck.cosine]] builder.
    */
  private def duckCosine(vecExpr: String, qLit: String): String =
    Duck.cosine(s"$vecExpr::DOUBLE[]", qLit)

  // ---------------------------------------------------------------------
  // Relational coverage (TPC-H-ish fixtures)
  // ---------------------------------------------------------------------

  private val q1 = QueryDef(
    "q1_pricing_summary",
    "TPC-H Q1-style aggregation: scan+filter pushdown, hash aggregate with " +
      "map-side partial aggregation (SURVEY §2.5).",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          xsum(Money.discPrice).as("sum_disc_price"),
          xsum(Money.charge).as("sum_charge"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""
      |SELECT l_returnflag, l_linestatus,
      |       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
      |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_base_price,
      |       CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) * 100) AS DOUBLE) / 100.0 AS sum_disc_price,
      |       CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) * 100) AS DOUBLE) / 100.0 AS sum_charge,
      |       COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus
      """.stripMargin.trim))

  private val q6 = QueryDef(
    "q6_forecast_revenue",
    "TPC-H Q6-style selective filter + single aggregate; all predicates " +
      "push into the parquet scan (PushedFilters).",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.filter(
          col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(xsum(Money.discount).as("revenue"),
             count(lit(1)).as("n_rows"))
    },
    Some("""
      |SELECT CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) * 100) AS DOUBLE) / 100.0 AS revenue,
      |       COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24
      """.stripMargin.trim))

  // ---------------------------------------------------------------------
  // Vector search (reference flagship — streamlit_app.py:55-73)
  // ---------------------------------------------------------------------

  private val knnExact = QueryDef(
    "knn_exact_cosine",
    "Reference flagship: exact brute-force top-k cosine KNN " +
      "(streamlit_app.py:55-73). The store is decoded once and held " +
      "with every vector's norm (Knn.openCorpus); each search plans as " +
      "TakeOrderedAndProject over the held rows — a k-row heap per " +
      "task, no corpus shuffle, no file read.",
    (s, dir) => {
      val d = Knn.search(Tables.embeddings(s, dir), "embedding", "vec_id", QueryVectors.queryVec64, k = 10)
        .select(col("vec_id"), round(col("distance_score"), 6).as("distance"))
      // re-sort on the rounded value for deterministic cross-engine order
      d.orderBy(col("distance"), col("vec_id"))
    },
    Some(s"""
      |WITH d AS (
      |  SELECT vec_id,
      |         ${duckCosine("embedding", vecLit(QueryVectors.queryVec64))} AS dist
      |  FROM embeddings
      |), top AS (
      |  SELECT vec_id, dist FROM d ORDER BY dist, vec_id LIMIT 10
      |)
      |SELECT vec_id, round(dist, 6) AS distance
      |FROM top ORDER BY distance, vec_id
      """.stripMargin.trim))

  private val knnScored = QueryDef(
    "knn_match_score",
    "Reference result shaping: match_score = round((1 − distance) × 100, 2) " +
      "+ display string, score-descending (streamlit_app.py:221-234).",
    (s, dir) => {
      // referenceSearch = search + the UI's [1,10] k-clamp; k=5 is
      // in-domain, so this is result-identical to plain search while
      // keeping the reference-parity API on the flagship path
      val hits = Knn.referenceSearch(Tables.embeddings(s, dir), "embedding", "vec_id", QueryVectors.queryVec64, k = 5)
      Knn.withMatchScore(hits, "vec_id")
        .select(col("vec_id"), col("match_score"), col("display_score"))
    },
    Some(s"""
      |WITH d AS (
      |  SELECT vec_id, ${duckCosine("embedding", vecLit(QueryVectors.queryVec64))} AS distance_score
      |  FROM embeddings
      |  ORDER BY distance_score, vec_id LIMIT 5
      |), m AS (
      |  SELECT vec_id, round((1.0 - distance_score) * 100.0, 2) AS match_score
      |  FROM d
      |)
      |SELECT vec_id, match_score, CAST(match_score AS VARCHAR) || '%' AS display_score
      |FROM m ORDER BY match_score DESC, vec_id
      """.stripMargin.trim))

  // ---------------------------------------------------------------------

  val all: Seq[QueryDef] =
    Seq(q1, q6, knnExact, knnScored) ++ TextQueries.defs ++ DedupQueries.defs ++
      RelationalQueries.defs ++ TpchDeepQueries.defs ++ EventQueries.defs ++ VectorQueries.defs ++
      MultimodalQueries.defs ++ PipelineQueries.defs ++ StreamingQueries.defs ++
      MaintenanceQueries.defs ++ QualityQueries.defs ++ SourceQueries.defs ++ StatQueries.defs ++
      SketchQueries.defs ++ MlQueries.defs

  def queriesMap: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> { (s: SparkSession, dir: String) =>
      GraftSession.prepare(s); q.run(s, dir)
    }).toMap

  def oracleMap: Map[String, String] =
    all.flatMap(q => q.oracleNow.map(q.name -> _)).toMap
}
