package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session, force and sweep every measuring main shares (Bench,
  * Verify, JobProbe, SizeSweep, ScaleFit and the tools under
  * `src/test/scala/graft/tools`), so a protocol fix lands once. */
object Harness {

  /** A local session with `SPARK_GRAFT_CPUS` cores (default `defaultCpus`),
    * as many shuffle partitions, UTC and no UI.
    *
    * Task-memory page size is derived from execution-pool/cores and caps at
    * 64 MB: on a large-heap driver every hash map / sorter then
    * allocates-and-zeroes 64 MB pages for KB-sized sf0.1 partitions, which
    * dominated multi-consumer queries (q_dedup_components measured 17.4 s at
    * -Xmx90g vs 3.9 s with right-sized pages; identical plans). 4 MB matches
    * what the formula yields for a modest heap. A real cluster run at 100 TB
    * keeps the default — pages amortize over multi-MB partitions there. */
  def session(defaultCpus: Int, logLevel: String = "ERROR"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.buffer.pageSize", "4m")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Runs `df` through the `noop` sink so every output column is evaluated
    * — `.count()` would let Catalyst prune the projected window/aggregate
    * expressions and time an empty scan instead. */
  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Frees everything a measurement left cached: this thread's
    * operator-internal frames and cuts ([[CacheScope]]), the SQL cache, any
    * remaining persistent RDDs (checkpoint blocks the CacheManager does not
    * know about), then a GC so reclaimed blocks are gone before the next
    * timer starts. */
  def sweep(spark: SparkSession): Unit = {
    CacheScope.release(blocking = true)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Wall seconds taken by `body`. */
  def seconds[A](body: => A): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}
