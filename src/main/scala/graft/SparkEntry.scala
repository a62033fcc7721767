package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.FinancialFunctions
import graft.gates.Gates

/** Driver contract — the correctness surface of the engine.
  *
  * Each gate is one [[gates.Gate]] in its family file under `graft/gates`:
  * the Spark query and its DuckDB oracle side by side (same column names,
  * same row set, bit-identical values where floating point is involved —
  * the indicator recurrences replicate the reference's FP operation order,
  * see [[graft.functions.IndicatorMath]]). [[queries]] and [[oracleSql]]
  * are the name-keyed views of [[gates.Gates.all]].
  *
  * Scale notes (the sf0.01 gate runs local; the design targets 100 TB):
  *  - indicator queries shuffle once on the window partition key and sort
  *    within partitions — the canonical Spark window plan;
  *  - joins to small dimensions are broadcast;
  *  - aggregations are partial (map-side combine) before the exchange;
  *  - filters/projections sit directly on the parquet scan so pushdown and
  *    column pruning reach the file source.
  */
object SparkEntry {

  /** Register every testdata table as a temp view for SQL queries. */
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings")

  // Session-idempotence marker for [[load]]: the dir this session's views
  // point at. Catalog registration (9 parquet footer reads + temp-view and
  // function-registry churn) measured ~0.6 s of driver-side work per gate
  // invocation while changing nothing — a real deployment registers its
  // catalog once per session (DDL), and the data itself is still read from
  // parquet on every action. Only same-session, same-dir re-registration
  // is skipped; switching dirs re-registers everything.
  private val LoadedDirKey = "graft.entry.loadedDir"

  private def load(spark: SparkSession, dir: String): Unit = {
    if (spark.conf.getOption(LoadedDirKey).contains(dir)) return
    FinancialFunctions.registerAll(spark)
    // all gate queries use timezone-independent date arithmetic (unix_date,
    // datediff, timestamp_micros); UTC is pinned anyway so a DST-observing
    // host can never shift epoch-based values relative to the DuckDB oracle
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    tables.foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    }
    spark.conf.set(LoadedDirKey, dir)
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_indicators_combined")(spark, "/root/testdata/sf0.001")

  /** Gate name → Spark query; registers the session's tables and
    * functions ([[load]]) before running the gate. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Gates.all.map { g =>
      g.name -> { (s: SparkSession, d: String) => load(s, d); g.run(s, d) }
    }.toMap

  /** Gate name → equivalent ANSI SQL runnable by DuckDB on the same
    * parquet files. */
  lazy val oracleSql: Map[String, String] =
    Gates.all.map(g => g.name -> g.oracleSql).toMap
}
